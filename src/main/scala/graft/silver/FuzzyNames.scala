package graft.silver

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Fuzzy player-name normalization (the one genuine "engine extension"
  * in the reference — SURVEY §2.9).
  *
  * Scorer: `WRatio` — the default scorer of rapidfuzz's
  * `process.extractOne`, which the reference calls with no `scorer=`
  * argument (reference: pipeline_2026/ex_match_bs.py:206,227,255).
  * WRatio combines plain normalized-indel `ratio` with token-sort/
  * token-set and partial (substring-aligned) variants, weighted by the
  * length ratio of the inputs — this is what lets abbreviated names
  * ("V Kohli" → "Virat Kohli") clear the cutoff where plain ratio
  * scores them ~78. Cutoffs are preserved: player match ≥ 75, team-key
  * match ≥ 70 (ex_match_bs.py:198,256).
  *
  * Scale shape (reference: ex_match_bs.py:249-259,323-336 and the 10×
  * claim at README.md:64):
  *  - candidate pruning: choices restricted to the batting/bowling squad
  *    via a broadcast team→players map (small dimension, never shuffled);
  *  - memoization: the fuzzy matcher runs once per DISTINCT (team, raw
  *    name) pair — a tiny set, collected in one action — and rows get
  *    the result back via a broadcast map lookup, so the quadratic string
  *    matching never touches the fact table's row count.
  */
object FuzzyNames {

  /** Indel distance (Levenshtein with substitutions forbidden). */
  def indel(a: String, b: String): Int = {
    if (a.isEmpty) return b.length
    if (b.isEmpty) return a.length
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        cur(j) =
          if (a.charAt(i - 1) == b.charAt(j - 1)) prev(j - 1)
          else 1 + math.min(prev(j), cur(j - 1))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** Normalized indel similarity, 0–100. */
  def ratio(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 100.0 * (1.0 - indel(a, b).toDouble / total)
  }

  /** Best window-aligned ratio of the shorter string against every
    * same-length substring of the longer (fuzz.partial_ratio). */
  def partialRatio(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100.0 else 0.0
    if (s.length == l.length) return ratio(s, l)
    var best = 0.0
    var i = 0
    while (i <= l.length - s.length && best < 100.0) {
      val r = ratio(s, l.substring(i, i + s.length))
      if (r > best) best = r
      i += 1
    }
    best
  }

  private def sortedTokens(s: String): String =
    s.split("\\s+").filter(_.nonEmpty).sorted.mkString(" ")

  /** fuzz.token_sort_ratio: ratio over alphabetically re-joined tokens. */
  def tokenSortRatio(a: String, b: String): Double =
    ratio(sortedTokens(a), sortedTokens(b))

  private def tokenSets(a: String, b: String): (String, String, String) = {
    val ta = a.split("\\s+").filter(_.nonEmpty).toSet
    val tb = b.split("\\s+").filter(_.nonEmpty).toSet
    (ta.intersect(tb).toSeq.sorted.mkString(" "),
      ta.diff(tb).toSeq.sorted.mkString(" "),
      tb.diff(ta).toSeq.sorted.mkString(" "))
  }

  /** fuzz.token_set_ratio: best pairwise ratio over
    * {common, common+diffA, common+diffB}. */
  def tokenSetRatio(a: String, b: String): Double = {
    val (sect, da, db) = tokenSets(a, b)
    val t1 = (sect + " " + da).trim
    val t2 = (sect + " " + db).trim
    math.max(ratio(sect, t1), math.max(ratio(sect, t2), ratio(t1, t2)))
  }

  /** fuzz.partial_token_set_ratio: any shared token ⇒ 100. */
  def partialTokenSetRatio(a: String, b: String): Double = {
    val (sect, da, db) = tokenSets(a, b)
    if (sect.nonEmpty) 100.0 else partialRatio(da, db)
  }

  /** rapidfuzz fuzz.WRatio — the weighted combination extractOne uses by
    * default: plain ratio, boosted by token-order-insensitive scorers
    * (×0.95) for similar lengths, or by partial (substring) scorers
    * (×0.9, ×0.6 for very different lengths) otherwise. */
  def wratio(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    val (la, lb) = (a.length.toDouble, b.length.toDouble)
    val lenRatio = math.max(la, lb) / math.min(la, lb)
    val base = ratio(a, b)
    if (lenRatio < 1.5) {
      val tok = math.max(tokenSortRatio(a, b), tokenSetRatio(a, b))
      math.max(base, tok * 0.95)
    } else {
      val pScale = if (lenRatio < 8.0) 0.9 else 0.6
      val pTok = math.max(partialRatio(sortedTokens(a), sortedTokens(b)),
        partialTokenSetRatio(a, b))
      math.max(base,
        math.max(partialRatio(a, b) * pScale, pTok * 0.95 * pScale))
    }
  }

  /** Best choice with WRatio score >= cutoff; ties keep first (choice
    * order) — mirrors rapidfuzz process.extractOne's strict-improvement
    * scan. */
  def extractOne(query: String, choices: Seq[String], cutoff: Double): Option[String] = {
    var best: String = null
    var bestScore = -1.0
    choices.foreach { c =>
      val s = wratio(query, c)
      if (s > bestScore) { bestScore = s; best = c }
    }
    if (best != null && bestScore >= cutoff) Some(best) else None
  }

  /** Reference match_player_name (ex_match_bs.py:198-210). */
  def matchPlayerName(rawName: String, choices: Seq[String], cutoff: Double = 75.0): String = {
    if (rawName == null || rawName == "N/A" || rawName.isEmpty) return "N/A"
    val clean = rawName.trim
    if (choices.isEmpty) return clean
    extractOne(clean, choices, cutoff).getOrElse(clean)
  }

  /** Reference get_team_player_choices (ex_match_bs.py:249-259). */
  def teamChoices(team: String, teamPlayers: Map[String, Seq[String]],
                  allPlayers: Seq[String]): Seq[String] = {
    if (team == null || team == "N/A" || teamPlayers.isEmpty) return allPlayers
    teamPlayers.get(team) match {
      case Some(ps) => ps
      case None =>
        extractOne(team, teamPlayers.keys.toSeq, 70.0)
          .map(teamPlayers(_)).getOrElse(allPlayers)
    }
  }

  /** Load the players catalog into the broadcastable squad map.
    * (reference: ex_match_bs.py:159-196 — team→players + all names) */
  def squadMap(players: DataFrame): (Map[String, Seq[String]], Seq[String]) =
    squads(catalogRows(players))

  /** The catalog's (Name, Team) rows, null names included: one action
    * that gives both the squad map and the catalog's emptiness. */
  private[silver] def catalogRows(players: DataFrame): Array[Row] =
    players.select(col("Name"), col("Team")).collect()

  private[silver] def squads(catalog: Array[Row]): (Map[String, Seq[String]], Seq[String]) = {
    val rows = catalog.filter(!_.isNullAt(0))
    val all = rows.map(_.getString(0)).distinct.toSeq
    val byTeam = rows.filter(!_.isNullAt(1))
      .groupBy(_.getString(1)).map { case (t, rs) => t -> rs.map(_.getString(0)).toSeq }
    (byTeam, all)
  }

  /** Normalize `batsman`, `bowler`, `out_batsman` in a silver frame.
    *
    * One action, one lookup (ex_match_bs.py:315-336): the distinct
    * (scoping team, raw name) pairs of all three roles are collected
    * together — batsman and out_batsman scoped to the batting squad,
    * bowler to the bowling squad — each pair is fuzzy-matched once on
    * the driver, and the rows get the result back through one broadcast
    * map lookup per role. The silver lineage is evaluated once for the
    * pairs, not once per role.
    */
  def normalize(spark: SparkSession, silver: DataFrame, players: DataFrame): DataFrame =
    normalizeWith(spark, silver, squadMap(players))

  private[silver] def normalizeWith(spark: SparkSession, silver: DataFrame,
      squads: (Map[String, Seq[String]], Seq[String])): DataFrame = {
    val (byTeam, all) = squads
    val roles = Seq("batsman" -> "batting_team", "bowler" -> "bowling_team",
      "out_batsman" -> "batting_team")
    val pairs = silver
      .select(explode(array(roles.map { case (name, team) =>
        struct(col(team).as("t"), col(name).as("raw")) }: _*)).as("p"))
      .select("p.t", "p.raw").rdd
      .mapPartitions(_.map(r => (r.getString(0), r.getString(1))).toSet.iterator)
      .collect().toSet
    val scored = pairs.iterator.map { case (t, raw) =>
      (t, raw) -> matchPlayerName(raw, teamChoices(t, byTeam, all))
    }.toMap
    val bcScored = spark.sparkContext.broadcast(scored)
    val lookup = udf { (t: String, raw: String) =>
      bcScored.value.getOrElse((t, raw), raw)
    }
    roles.foldLeft(silver) { case (df, (name, team)) =>
      df.withColumn(name, lookup(col(team), col(name)))
    }
  }
}
