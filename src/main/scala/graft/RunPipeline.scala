package graft

import graft.io.Tables

/** Operational batch entry point — the one-command replacement for the
  * reference's script chain (raw extractor → bronze Lambda → silver Glue
  * job → gold Glue job):
  *
  * {{{
  *   runMain graft.RunPipeline <rawCsvDirOrFile> <metaJson> <outDir> [playersNdjson]
  * }}}
  *
  * Writes `outDir/silver` (partitioned by match, innings) and the four
  * `outDir/gold_*` tables. Incremental/event-driven operation is
  * [[graft.streaming.Incremental.run]] over the same transforms.
  */
object RunPipeline {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: RunPipeline <rawCsvDirOrFile> <metaJson> <outDir> [playersNdjson]")
    val Array(rawPath, metaPath, outDir) = args.take(3)
    val spark = Session("graft-pipeline")
    try {
      val raw = Tables.readRawBallCsv(spark, rawPath)
      val meta = Tables.readMetaJson(spark, metaPath)
      val players = args.lift(3).map(p => Tables.readPlayers(spark, p))
      val silver = Pipeline.toSilver(spark, Pipeline.toBronze(raw), meta, players)
      Tables.writeSilver(silver, s"$outDir/silver")
      // read back with the pinned schema: partition-column inference
      // would retype numeric-looking match ids (merging '01' with '1')
      // and an empty write has no footers to infer from
      val stored = spark.read.schema(silver.schema).parquet(s"$outDir/silver")
      Pipeline.toGold(stored).foreach {
        case (name, df) => Tables.writeGold(df, s"$outDir/$name")
      }
      println(s"[graft] pipeline complete -> $outDir")
    } finally spark.stop()
  }
}
