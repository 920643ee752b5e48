package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, stages, tasks, shuffle,
  * spill and task-time skew. Filled by [[SpanListener]] on the listener
  * thread; read on the driver thread only after a drain. */
final class SparkCounts {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Attributes every job, stage and task to the span that was open when
  * the job was submitted, through the `perfbench.span` local property
  * (inherited by the stream execution thread of a query started inside
  * the span). */
final class SpanListener extends SparkListener {
  val counts = mutable.HashMap.empty[Long, SparkCounts]
  private val stageSpan = mutable.HashMap.empty[Int, Long]

  private def of(id: Long) = counts.getOrElseUpdate(id, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).foreach { id =>
        of(id).jobs += 1
        e.stageIds.foreach(stageSpan(_) = id)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (id <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(id)
      c.tasks += 1
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.gcMs += m.jvmGCTime
      c.taskMs += e.taskInfo.duration
    }
  }
}

/** One traced call: layer, public function name, wall interval, parent. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program. When off, a
  * span is just its body: the timed runs pay nothing for tracing. */
final class Tracer(val on: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private var nextId = 1L
  private var listener: Option[(SparkContext, SpanListener)] = None

  /** Attach a fresh listener to `sc` (after each session start). */
  def attach(sc: SparkContext): Unit = if (on) {
    val l = new SpanListener
    sc.addSparkListener(l)
    listener = Some(sc -> l)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      val sc = listener.map(_._1)
      stack = id :: stack
      sc.foreach(_.setLocalProperty(Tracer.Key, id.toString))
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, layer, name, t0, System.nanoTime())
        stack = stack.tail
        sc.foreach(_.setLocalProperty(Tracer.Key,
          stack.headOption.map(_.toString).orNull))
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Spark counts per span id, after all events so far are delivered. */
  def counts: Map[Long, SparkCounts] = listener match {
    case Some((sc, l)) =>
      org.apache.spark.perfbench.ListenerDrain.drain(sc)
      l.synchronized(l.counts.toMap)
    case None => Map.empty
  }

  /** A span's duration minus the part its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum

  /** Sum of self seconds of the spans of `layer` (optionally one name). */
  def layerSeconds(layer: String, name: String = null): Double =
    done.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(selfSeconds).sum

  /** Spark counts summed over the spans of `layer` (optionally one name). */
  def layerCounts(layer: String, name: String = null): SparkCounts = {
    val ids = done.filter(s => s.layer == layer && (name == null || s.name == name))
      .map(_.id).toSet
    val all = counts
    val sum = new SparkCounts
    ids.flatMap(all.get).foreach { c =>
      sum.jobs += c.jobs; sum.stages += c.stages; sum.tasks += c.tasks
      sum.shuffleRead += c.shuffleRead; sum.shuffleWrite += c.shuffleWrite
      sum.spill += c.spill; sum.gcMs += c.gcMs; sum.taskMs ++= c.taskMs
    }
    sum
  }

  /** Spans as JSON lines, with their Spark counts and self time. */
  def write(path: String): Unit = if (on) {
    val all = counts
    val lines = done.sortBy(_.startNs).map { s =>
      val c = all.getOrElse(s.id, new SparkCounts)
      val sorted = c.taskMs.sorted
      val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      val max = if (sorted.isEmpty) 0L else sorted.last
      f"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        f""""self_ms":${selfSeconds(s) * 1e3}%.3f,"jobs":${c.jobs},"stages":${c.stages},""" +
        f""""tasks":${c.tasks},"shuffle_read_b":${c.shuffleRead},"shuffle_write_b":${c.shuffleWrite},""" +
        f""""spill_b":${c.spill},"task_ms_median":$med,"task_ms_max":$max,"gc_ms":${c.gcMs}}"""
    }
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  val Key = "perfbench.span"
}
