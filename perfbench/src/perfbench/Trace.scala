package perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** A timed interval at a layer boundary; times are epoch nanos. The layer
  * is the name's prefix before the first dot. */
final case class Span(id: Int, name: String, trace: String, start: Long, end: Long, parent: Int) {
  def layer: String = name.takeWhile(_ != '.')
  def json: String =
    s"""{"id":$id,"name":"$name","trace":"$trace","start_ns":$start,"end_ns":$end,"parent":$parent}"""
}

/** In-memory span store, written out when the run ends. */
final class Tracer {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  private val spans = ArrayBuffer.empty[Span]

  def now: Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)

  def add(name: String, trace: String, start: Long, end: Long, parent: Int = -1): Int =
    synchronized { spans += Span(spans.size, name, trace, start, end, parent); spans.size - 1 }

  /** Time `f` as a span; `f` gets the span's id to parent its children. */
  def span[A](name: String, trace: String, parent: Int = -1)(f: Int => A): A = {
    val id = synchronized { spans += null; spans.size - 1 }
    val t0 = now
    try f(id) finally {
      val t1 = now
      synchronized { spans(id) = Span(id, name, trace, t0, t1, parent) }
    }
  }

  def all: Seq[Span] = synchronized(spans.filter(_ != null).toSeq)

  /** Innermost span named `name` that contains the instant `t`. */
  def enclosing(name: String, t: Long): Int =
    all.filter(s => s.name == name && s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(-1)

  /** Self time per layer in ms: each span's duration minus the part of its
    * interval covered by its children. */
  def selfMs: Seq[(String, Double)] = {
    val ss = all
    val kids = ss.filter(_.parent >= 0).groupBy(_.parent)
    ss.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, hi), (a, b)) =>
          if (b <= hi) (acc, hi) else (acc + b - math.max(a, hi), b)
        }._1
      s.layer -> (s.end - s.start - covered) / 1e6
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.map(_.json).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

/** Per-trigger progress of the streaming pipeline (micro-batches that ran). */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  final case class Trigger(startMs: Long, durations: Map[String, Long])
  val triggers: ArrayBuffer[Trigger] = ArrayBuffer.empty
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  // a batch the program read driver-side reports 0 input rows, so a
  // micro-batch that ran is recognised by its addBatch phase
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (e.progress.durationMs.containsKey("addBatch")) {
    import scala.jdk.CollectionConverters._
    val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    synchronized { triggers += Trigger(java.time.Instant.parse(e.progress.timestamp).toEpochMilli, d) }
  }
}

/** Job and task counts of the Spark engine. */
final class EngineListener extends SparkListener {
  final case class Task(launchMs: Long, runMs: Long, shuffleBytes: Long)
  val jobStartsMs: ArrayBuffer[Long] = ArrayBuffer.empty
  val tasks: ArrayBuffer[Task] = ArrayBuffer.empty
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStartsMs += e.time }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) synchronized {
    tasks += Task(e.taskInfo.launchTime, e.taskMetrics.executorRunTime,
      e.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }
}
