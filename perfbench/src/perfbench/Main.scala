package perfbench

import graft.cdc.{CdcApply, EventDecoder}
import graft.streaming.{CdcPipeline, PipelineConfig}
import graft.tables.ManagedTable
import org.apache.spark.BenchBus
import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** CDC replication benchmark driver. Calls the system only through its
  * public surface (CdcPipeline.start, EventDecoder.infer/decode,
  * CdcApply.batchWinners, ManagedTable.merge/read/filesMetadata and SQL
  * over `graft.<t>`), feeding it seeded Debezium envelope files and
  * checking every table and answer against the generator's model.
  *
  * Usage: Main --workload cdc_bulk|cdc_trickle --seed N
  *   --seconds S --trace 0|1 --out DIR --cores N
  *        Main --self-test 1 --out DIR --cores N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(m("out")).toAbsolutePath
    val cores = m("cores").toInt
    val spark = Bench.session(out, cores)
    Bench.note("session up")
    // any error ends the JVM with a non-zero code and no result line
    val ok =
      try {
        if (m.get("self-test").contains("1")) SelfTest.run(spark, out, cores)
        else {
          new Bench(spark, m("workload"), m("seed").toLong, m("seconds").toDouble,
            m("trace") == "1", out, cores).run()
          true
        }
      } catch { case e: Throwable => e.printStackTrace(); false }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

object Bench {
  val Workloads = Seq("cdc_bulk", "cdc_trickle")
  val BatchEvents = 2048
  /** Trickle batch index at which destination 1 gains the `tier` column. */
  val EvolveAt = 8

  def session(out: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least 10 samples beyond it:
    * (percentile, value), or None with fewer than 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else Some((100.0 * (xs.size - 10) / xs.size, xs.sorted.apply(xs.size - 11)))

  /** Hadoop FileSystem statistics counter summed over all schemes. */
  def fsCounter(key: String): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => Option(s.getLong(key)).map(_.longValue).getOrElse(0L)).sum

  /** Bytes of the files under `dir`, Hadoop checksum sidecars excluded. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(Files.size).sum
      finally st.close()
    }

  def files(dir: Path): Map[String, Long] =
    if (!Files.exists(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally st.close()
    }

  /** Progress note on stderr: seconds since the JVM started. */
  def note(what: String): Unit = System.err.println(f"[perfbench] ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s  $what")

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Format a metric value with 7 significant digits. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else new java.math.BigDecimal(v).round(new java.math.MathContext(7)).stripTrailingZeros.toPlainString
}

/** A destination set: names and the model of their tables. */
final class Dests(val names: IndexedSeq[String], seed: Long) {
  val model = new Model(seed, names.size)
  def table(d: Int): String = graft.cdc.DefaultTableMapper().map(names(d))
}

final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
                  trace: Boolean, out: Path, cores: Int, bulkKeys: Int = 32000) {
  import Bench._

  require(Workloads.contains(workload), s"unknown workload $workload (have ${Workloads.mkString(", ")})")
  private val wdir = out.resolve(workload)
  private def seededRng() = new SplittableRandom(Gen.mix(seed, workload.hashCode))
  private var rng = seededRng()
  private var tsNs = Gen.BaseNs
  private var verCounter = 0

  // end-to-end samples
  private val setupS = ArrayBuffer.empty[Double]
  private val batchMs = ArrayBuffer.empty[Double]
  private var writeEvents = 0L
  private var writeNs = 0L
  private val pointMs = ArrayBuffer.empty[Double]
  private val scanMs = ArrayBuffer.empty[Double]
  private var bytesWritten = 0L
  private var attempted = 0L
  private var failed = 0L

  // trace state
  private val tracer = new Tracer
  private val streamL = new StreamListener
  private val engineL = new EngineListener
  private val tracedBatchMs = ArrayBuffer.empty[Double]
  private var traceOn = false
  private var tracedFromMs = 0L
  private var tracedWallMs = 0L
  private var tracedGcMs = 0L
  private var gcAtStart = 0L
  private val decodeNs = ArrayBuffer.empty[(Long, Long)] // (ns, events)
  private val dedupNs = ArrayBuffer.empty[(Long, Long, Long)] // (ns, in, out)
  private val inferMs = ArrayBuffer.empty[Double]
  private val mergeMs = ArrayBuffer.empty[Double]
  private val commitFiles = ArrayBuffer.empty[(Int, Long)]
  private val planMs = mutable.Map.empty[String, ArrayBuffer[Double]]
  private var pointReadBytes = 0L
  private var pointCount = 0L

  private def cfg(wh: Path, dests: Int) = PipelineConfig(warehouse = wh.toString,
    upsert = true, keepDeletes = false, concurrentTables = math.min(dests, cores))

  private def nextTs(): Long = { tsNs += 1000 + rng.nextInt(1000); tsNs }
  private def nextVer(): Int = { verCounter += 1; verCounter }

  private def fail(what: String): Unit = {
    failed += 1
    if (failed <= 5) System.err.println(s"[perfbench] WRONG: $what")
  }

  /** Count one checked operation; a thrown error counts as failed. */
  private def checked(what: String)(f: => Option[String]): Unit = {
    attempted += 1
    try f.foreach(m => fail(s"$what: $m"))
    catch { case e: Exception => fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}") }
  }

  private def fresh(p: Path): Path = {
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
    Files.createDirectories(p)
  }

  // ------------------------------------------------------------ generation

  /** Snapshot (`r`) events for keys [0, n) of each destination. */
  private def snapshot(ds: Dests, n: Int): Seq[Event] =
    for (d <- ds.names.indices; k <- 0 until n) yield Event(d, k.toLong, 'r', nextVer(), nextTs(), tier = false)

  /** Recently written keys per destination, newest last. */
  private val recent = mutable.Map.empty[Int, ArrayBuffer[Long]]
  private def noteWrite(d: Int, k: Long): Unit = {
    val r = recent.getOrElseUpdate(d, ArrayBuffer.empty)
    r += k
    if (r.size > 16384) r.remove(0, 8192)
  }
  private val recencyZipf = new Gen.Zipf(8192, 1.1)
  // lookups draw from their own stream, so the generated inputs do not
  // depend on how many reads ran before them
  private val readRng = new SplittableRandom(Gen.mix(seed, 0x5eed))
  private def recentKey(d: Int): Long = {
    val r = recent(d)
    r(math.max(0, r.size - 1 - recencyZipf.sample(readRng)))
  }

  /** One 2048-event change batch: 70% u, 20% c, 10% d; u/d keys
    * Zipf(1.1)-skewed over the seeded key range; destinations by `shares`.
    * Applied to the model as generated (ts strictly increase in a batch,
    * so sequential application equals the batch winners). */
  private final class ChangeStream(ds: Dests, shares: Array[Double], seeded: Int) {
    private val zipf = new Gen.Zipf(seeded, 1.1)
    private val nextKey = Array.fill(ds.names.size)(seeded.toLong)
    private var index = 0
    def next(): Seq[Event] = {
      val b = index; index += 1
      val m = ds.model
      val evs = (0 until BatchEvents).map { _ =>
        val x = rng.nextDouble()
        val d = shares.scanLeft(0.0)(_ + _).tail.indexWhere(x < _) match { case -1 => 0; case i => i }
        val tier = workload == "cdc_trickle" && d == 1 && b >= EvolveAt
        val opR = rng.nextDouble()
        val k = (zipf.sample(rng).toLong * 7919L + 13L) % seeded
        val e =
          if (opR < 0.2) Event(d, { nextKey(d) += 1; nextKey(d) - 1 }, 'c', nextVer(), nextTs(), tier)
          else m.live(d).get(k) match {
            case None => Event(d, k, 'c', nextVer(), nextTs(), tier)
            case Some(cur) if opR >= 0.9 => Event(d, k, 'd', cur.ver, nextTs(), cur.tier)
            case Some(_) => Event(d, k, 'u', nextVer(), nextTs(), tier)
          }
        m.applyBatch(Seq(e))
        // keys new to the table live in groups of their own, which a lookup
        // prunes cheaply; looking up only seeded keys keeps the latency
        // distribution one-moded, so its median is steady
        if (e.key < seeded) noteWrite(d, e.key)
        e
      }
      evs
    }
  }

  // ------------------------------------------------------------ program calls

  private def drain(src: Path, ckpt: Path, wh: Path, dests: Int): Unit = {
    val q = CdcPipeline.start(spark, src.toString, ckpt.toString, cfg(wh, dests))
    q.awaitTermination()
    q.exception.foreach(e => throw e)
  }

  /** `f` over 0 until n on the shared pool, results in order. */
  private def par[A](n: Int)(f: Int => A): Seq[A] = {
    import scala.concurrent.ExecutionContext.Implicits.global
    scala.concurrent.Await.result(scala.concurrent.Future.sequence(
      (0 until n).map(i => scala.concurrent.Future(f(i)))), scala.concurrent.duration.Duration.Inf)
  }

  private def checkTables(ds: Dests, wh: Path, what: String): Unit =
    par(ds.names.size) { d =>
      try ManagedTable.load(spark, wh.toString, ds.table(d)) match {
        case Some(t) => Check.table(t.read(), ds.model, d)
        case None => if (ds.model.live(d).isEmpty) None else Some("table missing")
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }.zipWithIndex.foreach { case (r, d) => checked(s"$what table ${ds.table(d)}")(r) }

  /** Time one SQL query; in trace mode record the planning phases. */
  private def sql(kind: String, q: String): (Array[Row], Double) = {
    val rb = fsCounter("bytesRead")
    val t0 = tracer.now
    val df = spark.sql(q)
    val rows = df.collect()
    val t1 = tracer.now
    if (traceOn) {
      val root = tracer.add("bench.query", s"$kind-${tracer.all.size}", t0, t1)
      val ph = df.queryExecution.tracker.phases
      var planEnd = t0
      Seq("parsing" -> "plans.parse", "analysis" -> "plans.analysis",
        "optimization" -> "plans.optimize", "planning" -> "plans.planning").foreach { case (p, n) =>
        ph.get(p).foreach { s =>
          tracer.add(n, kind, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L, root)
          planEnd = math.max(planEnd, s.endTimeMs * 1000000L)
          if (kind == "point") planMs.getOrElseUpdate(n, ArrayBuffer.empty) += s.durationMs.toDouble
        }
      }
      tracer.add("plans.exec", kind, planEnd, t1, root)
      if (kind == "point") {
        planMs.getOrElseUpdate("plans.exec", ArrayBuffer.empty) += (t1 - planEnd) / 1e6
        pointReadBytes += fsCounter("bytesRead") - rb
        pointCount += 1
      }
    }
    (rows, (t1 - t0) / 1e6)
  }

  /** End-to-end samples come from untraced operations only. */
  private def sample(into: ArrayBuffer[Double], timed: Boolean, ms: Double): Unit =
    if (timed && !traceOn) into += ms

  private def pointRead(ds: Dests, d: Int, timed: Boolean): Unit = {
    val k = recentKey(d)
    checked(s"point ${ds.table(d)} id=$k") {
      val (rows, ms) = sql("point", s"SELECT * FROM graft.${ds.table(d)} WHERE id = $k")
      sample(pointMs, timed, ms)
      Check.point(rows, ds.model, d, k)
    }
  }

  private def scanRead(ds: Dests, d: Int, timed: Boolean): Unit =
    checked(s"scan ${ds.table(d)}") {
      val (rows, ms) = sql("scan", s"SELECT status, count(*) AS n, sum(amount) AS s " +
        s"FROM graft.${ds.table(d)} WHERE is_active GROUP BY status")
      sample(scanMs, timed, ms)
      Check.scan(rows, ds.model, d)
    }

  /** `points` point lookups and `scans` scans, after untimed ones when
    * `warmUp`. */
  private def readProbe(ds: Dests, wh: Path, d: Int, points: Int, scans: Int,
                        warmUp: Boolean): Unit = {
    spark.conf.set("spark.graft.warehouse", wh.toString)
    if (warmUp) {
      (0 until 6).foreach(_ => pointRead(ds, d, timed = false))
      (0 until 2).foreach(_ => scanRead(ds, d, timed = false))
    }
    (0 until points).foreach(_ => pointRead(ds, d, timed = true))
    (0 until scans).foreach(_ => scanRead(ds, d, timed = true))
  }

  // ------------------------------------------------------------ trace helpers

  /** Tracing segments accumulate: listeners on, spans recorded. */
  private def startTrace(): Unit = {
    if (tracedFromMs == 0L) graft.tables.PhaseTimer.reset()
    traceOn = true
    spark.streams.addListener(streamL)
    spark.sparkContext.addSparkListener(engineL)
    tracedFromMs = System.currentTimeMillis()
    gcAtStart = gcMs
  }

  private def stopTrace(): Unit = {
    BenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamL)
    spark.sparkContext.removeSparkListener(engineL)
    tracedWallMs += System.currentTimeMillis() - tracedFromMs
    tracedGcMs += gcMs - gcAtStart
    traceOn = false
  }

  /** Time one batch of the write loop (`f` runs it to completion). */
  private def timedBatch(events: Int, trace: String)(f: => Unit): Unit = {
    val b0 = fsCounter("bytesWritten")
    val t0 = System.nanoTime()
    if (traceOn) tracer.span("bench.batch", trace)(_ => f) else f
    val ns = System.nanoTime() - t0
    if (traceOn) tracedBatchMs += ns / 1e6
    else {
      batchMs += ns / 1e6
      writeEvents += events; writeNs += ns
      bytesWritten += fsCounter("bytesWritten") - b0
    }
  }

  /** Run `step` for `seconds`, and at least `minSteps` times. In trace
    * mode the time splits into an untraced quarter, a traced half and an
    * untraced quarter (each at least one step), so warm-up drift cancels
    * out of the tracing overhead. */
  private def loop(seconds: Double, minSteps: Int = 1)(step: => Unit): Unit = {
    def run(share: Double, min: Int): Unit = {
      val end = System.nanoTime() + (seconds * share * 1e9).toLong
      var n = 0
      while (n < min || System.nanoTime() < end) { step; n += 1 }
    }
    if (!trace) run(1.0, minSteps)
    else { run(0.25, 1); startTrace(); run(0.5, 1); stopTrace(); run(0.25, 1) }
  }

  /** Decomposed batch: infer -> decode -> batchWinners -> merge, each
    * materialised and timed as its own span. `raw` is the envelope slice
    * of one destination; `local` batches are materialised as driver-side
    * local relations (the program's small-batch shape), large ones by
    * persist + count. */
  private def decomposed(ds: Dests, wh: Path, d: Int, raw: DataFrame, n: Long,
                         local: Boolean, trace: String): Unit =
    tracer.span("bench.batch", trace) { root =>
      def materialise(df: DataFrame): DataFrame =
        if (local) spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
        else { val p = df.persist(); p.count(); p }
      val inferred = tracer.span("cdc.infer", trace, root) { _ =>
        val t0 = System.nanoTime()
        val r = raw.agg(collect_set(get_json_object(col("value"), "$.schema")),
          first(get_json_object(col("key"), "$.schema"), ignoreNulls = true)).collect().head
        val inf = EventDecoder.infer(r.getSeq[String](0).sorted, Option(r.getString(1)))
        inferMs += (System.nanoTime() - t0) / 1e6
        inf
      }
      val t1 = System.nanoTime()
      val decoded = tracer.span("cdc.decode", trace, root)(_ => materialise(EventDecoder.decode(raw, inferred)))
      val t2 = System.nanoTime()
      decodeNs += ((t2 - t1, n))
      val ucfg = CdcApply.UpsertConfig(keepDeletes = false)
      val winners = tracer.span("cdc.dedup", trace, root)(_ =>
        materialise(CdcApply.batchWinners(decoded, inferred.identifierFields, ucfg)))
      val t3 = System.nanoTime()
      val nWin = winners.count()
      dedupNs += ((t3 - t2, n, nWin))
      val table = tracer.span("tables.open", trace, root) { _ =>
        val t = ManagedTable.loadOrCreate(spark, wh.toString, ds.table(d), inferred.tableSchema,
          inferred.identifierFields, Nil,
          // the properties CdcPipeline gives the tables it creates
          Map("write.mor.posdel-on-commit" -> "auto", "write.temporal-mode" -> "isostring"))
        t.evolve(inferred.tableSchema, inferred.identifierFields)
        t
      }
      val before = files(wh.resolve(ds.table(d)))
      val t4 = System.nanoTime()
      tracer.span("tables.merge", trace, root)(_ => table.merge(winners, ucfg.copy(runDedup = false)))
      mergeMs += (System.nanoTime() - t4) / 1e6
      val added = files(wh.resolve(ds.table(d))).filter { case (p, _) => !before.contains(p) }
      commitFiles += ((added.size, added.values.sum))
      if (!local) { decoded.unpersist(); winners.unpersist() }
    }

  private def readEnvelopes(p: Path): DataFrame =
    spark.read.schema(CdcPipeline.envelopeSchema).json(p.toString)

  /** Trickle/mor decomposition pass: `n` more batches applied directly. */
  private def decomposedBatches(ds: Dests, wh: Path, gen: ChangeStream, n: Int): Unit =
    (0 until n).foreach { i =>
      val evs = gen.next()
      val f = wdir.resolve("decomp").resolve(f"d$i%06d.json")
      Files.createDirectories(f.getParent)
      Gen.writeFile(seed, ds.names, evs, f)
      val raw = readEnvelopes(f).collect()
      val schema = CdcPipeline.envelopeSchema
      raw.groupBy(_.getString(0)).toSeq.sortBy(_._1).foreach { case (dest, rows) =>
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        decomposed(ds, wh, ds.names.indexOf(dest), df, rows.length, local = true, s"decomp-$i")
      }
    }

  // ------------------------------------------------------------ workloads

  def run(): Unit = {
    fresh(wdir)
    val (ds, wh) = workload match {
      case "cdc_bulk"    => bulk()
      case "cdc_trickle" => trickle()
    }
    note("measured phase done")
    checkTables(ds, wh, "final")
    note("final check done")
    report(ds, wh)
    note("report done")
  }

  private val bulkDests = new Dests((0 until 4).map(i => s"bench.t$i"), seed)

  /** Snapshot-style drain: K keys read (90%) or created, ~30% updated 1-3
    * times, ~3% deleted, ~1% deleted with a same-ts update racing the
    * delete (op priority decides); destinations 40/30/20/10 by key. */
  private def bulkEvents(ds: Dests, keys: Int): Seq[Event] = {
    def dest(k: Long) = (k % 10).toInt match { case x if x < 4 => 0; case x if x < 7 => 1; case x if x < 9 => 2; case _ => 3 }
    val ver = mutable.LongMap.empty[Int]
    def ev(k: Long, op: Char, ts: Long = nextTs()): Event = {
      val v = if (op == 'd') ver(k) else nextVer()
      ver(k) = v
      Event(dest(k), k, op, v, ts, tier = false)
    }
    val snap = (0 until keys * 9 / 10).map(k => ev(k.toLong, 'r'))
    val changes = ArrayBuffer.empty[(Long, Char)]
    (keys * 9 / 10 until keys).foreach(k => changes += ((k.toLong, 'c')))
    (0 until keys * 9 / 10).foreach { k =>
      if (rng.nextDouble() < 0.3) (0 to rng.nextInt(3)).foreach(_ => changes += ((k.toLong, 'u')))
    }
    // Fisher-Yates shuffle; each key has either one 'c' or only 'u's, and
    // ev() numbers versions in emitted order, so a key's events stay ordered
    for (i <- changes.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = changes(i); changes(i) = changes(j); changes(j) = t
    }
    val stream = changes.map { case (k, op) => ev(k, op) }
    val deletes = ArrayBuffer.empty[Event]
    (0 until keys).foreach { k =>
      val x = rng.nextDouble()
      if (x < 0.03) deletes += ev(k.toLong, 'd')
      else if (x < 0.04) {
        val ts = nextTs()
        deletes += ev(k.toLong, 'd', ts)
        deletes += ev(k.toLong, 'u', ts)
      }
    }
    snap ++ stream ++ deletes
  }

  private def writeChunks(ds: Dests, evs: Seq[Event], dir: Path, files: Int): Unit = {
    Files.createDirectories(dir)
    evs.grouped((evs.size + files - 1) / files).zipWithIndex.foreach { case (chunk, i) =>
      Gen.writeFile(seed, ds.names, chunk, dir.resolve(f"part-$i%04d.json"))
    }
  }

  private def bulk(): (Dests, Path) = {
    val ds = bulkDests
    val keys = bulkKeys
    val warm = new Dests(ds.names, seed)
    writeChunks(warm, bulkEvents(warm, keys / 10), wdir.resolve("warm"), 4)
    val evs = bulkEvents(ds, keys)
    ds.model.applyBatch(evs)
    evs.foreach(e => if (e.dest == 0) noteWrite(0, e.key))
    writeChunks(ds, evs, wdir.resolve("in"), 8)
    (0 until 3).foreach { i =>
      val r = fresh(wdir.resolve(s"setup$i"))
      val t0 = System.nanoTime()
      drain(wdir.resolve("warm"), r.resolve("ckpt"), r.resolve("wh"), 4)
      setupS += (System.nanoTime() - t0) / 1e9
      note(s"setup $i done (${setupS.last} s)")
      org.apache.commons.io.FileUtils.deleteDirectory(r.toFile)
    }
    var i = 0
    // reads follow each drain, on the table it just loaded, so that a
    // burst of outside load hits one drain's reads, not all of them
    loop(seconds, minSteps = 3) {
      val r = fresh(wdir.resolve(s"drain$i"))
      timedBatch(evs.size, s"drain-$i") {
        drain(wdir.resolve("in"), r.resolve("ckpt"), r.resolve("wh"), 4)
      }
      readProbe(ds, r.resolve("wh"), 0, 6, 2, warmUp = i == 0)
      i += 1
    }
    (0 until i).foreach(j => checkTables(ds, wdir.resolve(s"drain$j").resolve("wh"), s"drain $j"))
    val wh = wdir.resolve(s"drain${i - 1}").resolve("wh")
    if (trace) {
      val r = fresh(wdir.resolve("decomp"))
      val raw = readEnvelopes(wdir.resolve("in")).persist()
      raw.count()
      ds.names.indices.foreach { d =>
        val slice = raw.filter(col("destination") === ds.names(d))
        decomposed(ds, r.resolve("wh"), d, slice, evs.count(_.dest == d).toLong, local = false, s"decomp-$d")
      }
      raw.unpersist()
      checkTables(ds, r.resolve("wh"), "decomposed")
    }
    (ds, wh)
  }

  /** Stream closed loop: drop one batch file, wait until it is committed. */
  private def streamBatch(q: StreamingQuery, src: Path, ds: Dests, gen: ChangeStream, b: Int,
                          timed: Boolean): Unit = {
    val evs = gen.next()
    Gen.writeFile(seed, ds.names, evs, wdir.resolve(f"stage-$b%06d.json"))
    checked(s"batch $b") {
      def go(): Unit = {
        Files.move(wdir.resolve(f"stage-$b%06d.json"), src.resolve(f"b$b%06d.json"))
        q.processAllAvailable()
      }
      if (timed) timedBatch(evs.size, s"batch-$b")(go()) else go()
      None
    }
  }

  /** Setup: a snapshot of `seeded` keys per destination loaded through
    * the pipeline's batch entry, then two un-compacted 2048-event upsert
    * commits, into a fresh warehouse; three times, the last repetition is
    * the measured state. */
  private def preload(shares: Array[Double], seeded: Int,
                      names: IndexedSeq[String]): (Dests, Path, ChangeStream) = {
    var last: (Dests, Path, ChangeStream) = null
    (0 until 3).foreach { rep =>
      val r = fresh(wdir.resolve(s"setup$rep"))
      if (rep > 0) org.apache.commons.io.FileUtils.deleteDirectory(wdir.resolve(s"setup${rep - 1}").toFile)
      rng = seededRng(); tsNs = Gen.BaseNs; verCounter = 0; recent.clear()
      val ds = new Dests(names, seed)
      val snap = snapshot(ds, seeded)
      ds.model.applyBatch(snap)
      snap.foreach(e => noteWrite(e.dest, e.key))
      writeChunks(ds, snap, r.resolve("snap"), 4)
      val gen = new ChangeStream(ds, shares, seeded)
      Files.createDirectories(r.resolve("commits"))
      (0 until 2).foreach(i => Gen.writeFile(seed, ds.names, gen.next(), r.resolve("commits").resolve(s"c$i.json")))
      val t0 = System.nanoTime()
      CdcPipeline.processBatch(spark, readEnvelopes(r.resolve("snap")), cfg(r.resolve("wh"), names.size))
      (0 until 2).foreach { i =>
        CdcPipeline.processBatch(spark, readEnvelopes(r.resolve("commits").resolve(s"c$i.json")),
          cfg(r.resolve("wh"), names.size))
      }
      setupS += (System.nanoTime() - t0) / 1e9
      note(s"setup $rep done (${setupS.last} s)")
      last = (ds, r.resolve("wh"), gen)
    }
    last
  }

  /** Closed loop over a streaming pipeline (one file per micro-batch):
    * each cycle commits one 2048-event batch, then runs a point lookup and
    * an aggregate scan on the hot table, so reads pay for the
    * merge-on-read state the commits leave behind. */
  private def trickle(): (Dests, Path) = {
    val (ds, wh, gen) = preload(Array(0.5, 0.25, 0.15, 0.1), 5000,
      (0 until 4).map(i => s"bench.t$i"))
    val src = wdir.resolve("src")
    Files.createDirectories(src)
    val q = CdcPipeline.start(spark, src.toString, wdir.resolve("ckpt").toString, cfg(wh, 4),
      trigger = Trigger.ProcessingTime(0L), maxFilesPerTrigger = Some(1))
    var b = 0
    try {
      (0 until 2).foreach { _ => streamBatch(q, src, ds, gen, b, timed = false); b += 1 }
      readProbe(ds, wh, 0, 0, 0, warmUp = true)
      loop(seconds) {
        streamBatch(q, src, ds, gen, b, timed = true)
        pointRead(ds, 0, timed = true)
        scanRead(ds, 0, timed = true)
        b += 1
      }
    } finally { q.stop() }
    if (trace) decomposedBatches(ds, wh, gen, 4)
    (ds, wh)
  }

  // ------------------------------------------------------------ self-test hooks

  /** Write a bulk input and three change batches, without the program. */
  def writeSample(dir: Path): Unit = {
    val ds = new Dests((0 until 4).map(i => s"bench.t$i"), seed)
    writeChunks(ds, bulkEvents(ds, bulkKeys), dir.resolve("bulk"), 2)
    ds.model.applyBatch(snapshot(ds, 500))
    val gen = new ChangeStream(ds, Array(0.5, 0.25, 0.15, 0.1), 500)
    Files.createDirectories(dir.resolve("changes"))
    (0 until 3).foreach(i => Gen.writeFile(seed, ds.names, gen.next(), dir.resolve("changes").resolve(s"c$i.json")))
  }

  /** Drain a bulk input of `bulkKeys` keys into `wh`; returns its model. */
  def bulkInto(wh: Path): Dests = {
    val ds = new Dests((0 until 4).map(i => s"bench.t$i"), seed)
    val evs = bulkEvents(ds, bulkKeys)
    ds.model.applyBatch(evs)
    writeChunks(ds, evs, wh.resolveSibling("in"), 2)
    drain(wh.resolveSibling("in"), wh.resolveSibling("ckpt"), wh, 4)
    ds
  }

  // ------------------------------------------------------------ reporting

  /** Reads, and the read-side metrics, target destination 0: the largest. */
  private def report(ds: Dests, wh: Path): Unit = {
    val plain = fresh(wdir.resolve("plain"))
    par(ds.names.size) { d =>
      ManagedTable.load(spark, wh.toString, ds.table(d)).foreach(
        _.read().coalesce(1).write.parquet(plain.resolve(ds.table(d)).toString))
    }
    val spaceAmp = dirBytes(wh).toDouble / dirBytes(plain)
    val liveGroups = ManagedTable.load(spark, wh.toString, ds.table(0))
      .map(_.filesMetadata().count()).getOrElse(0L)
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    // the pauses let Spark's cleaner release what the first collection
    // found unreachable before the next one
    (0 until 3).foreach { _ => mem.gc(); Thread.sleep(200) }
    val heapMb = mem.getHeapMemoryUsage.getUsed / 1048576.0

    val e2e = Seq[(String, Double, String)](
      ("setup_s", median(setupS.toSeq), "s"),
      ("eps", writeEvents / (writeNs / 1e9), "1/s"),
      ("batch_p50_ms", median(batchMs.toSeq), "ms"),
      ("read_point_p50_ms", median(pointMs.toSeq), "ms"),
      ("read_scan_p50_ms", median(scanMs.toSeq), "ms"),
      ("bytes_per_event", bytesWritten.toDouble / writeEvents, "B"),
      ("space_amp", spaceAmp, "ratio"),
      ("heap_retained_mb", heapMb, "MB"))
    println(s"workload $workload seed $seed cores $cores trace ${if (trace) 1 else 0}")
    e2e.foreach { case (n, v, u) => println(f"  $n%-20s ${num(v)} $u") }
    Seq("batch" -> batchMs, "read_point" -> pointMs, "read_scan" -> scanMs).foreach { case (n, xs) =>
      val t = tail(xs.toSeq).map { case (p, v) => f"${num(v)} ms at p${num(p)}" }.getOrElse("n/a (<11 samples)")
      println(f"  ${n + "_tail_ms"}%-20s $t (n=${xs.size})")
    }
    Seq("batch" -> batchMs, "point" -> pointMs, "scan" -> scanMs).foreach { case (n, xs) =>
      note(s"samples $n: ${xs.map(x => num(x)).mkString(" ")}")
    }
    println(f"  fail_frac            ${num(failed.toDouble / math.max(1, attempted))} ($failed of $attempted)")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else layerMetrics(ds, liveGroups, cachedMb)
    if (trace) {
      val path = out.resolve("trace").resolve(s"$workload-$seed.jsonl")
      tracer.write(path)
      println(s"  spans written to $path")
      println("  self time per layer (ms):")
      tracer.selfMs.foreach { case (l, ms) => println(f"    $l%-10s ${num(ms)}") }
      println("  PhaseTimer (program counters, traced half):")
      graft.tables.PhaseTimer.report().linesIterator.foreach(l => println(s"    $l"))
      metrics.foreach { case (n, v, u) => println(f"  $n%-28s ${num(v)} $u") }
    }
    val body = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }

  private def layerMetrics(ds: Dests, liveGroups: Long, cachedMb: Double): Seq[(String, Double, String)] = {
    val batches = tracer.all.filter(s => s.name == "bench.batch" && !s.trace.startsWith("decomp"))
    def inBatch(ms: Long) = batches.exists(s => s.start <= ms * 1000000L && ms * 1000000L <= s.end)
    val trig = streamL.synchronized(streamL.triggers.toSeq)
    def dur(t: streamL.Trigger, k: String) = t.durations.getOrElse(k, 0L).toDouble
    trig.foreach { t =>
      val s0 = t.startMs * 1000000L
      val parent = tracer.enclosing("bench.batch", s0)
      val root = tracer.add("streaming.trigger", s"trigger-$s0", s0,
        s0 + (dur(t, "triggerExecution") * 1e6).toLong, parent)
      var at = s0
      Seq("latestOffset" -> "streaming.offsets", "walCommit" -> "streaming.offsets",
        "getBatch" -> "streaming.plan", "queryPlanning" -> "streaming.plan",
        "addBatch" -> "streaming.addBatch", "commitOffsets" -> "streaming.offsets").foreach { case (k, n) =>
        val d = (dur(t, k) * 1e6).toLong
        if (d > 0) { tracer.add(n, s"trigger-$s0", at, at + d, root); at += d }
      }
    }
    val (jobs, tasks) = engineL.synchronized((engineL.jobStartsMs.toSeq, engineL.tasks.toSeq))
    val nb = math.max(1, batches.size).toDouble
    val wallMs = tracedWallMs.toDouble
    val batchTasks = tasks.filter(t => inBatch(t.launchMs))
    val overhead = 100.0 * (median(tracedBatchMs.toSeq) / median(batchMs.toSeq) - 1)
    val evDecode = decodeNs.map(_._2).sum.toDouble
    val self = tracer.selfMs.toMap
    Seq(
      ("streaming.trigger_ms", median(trig.map(dur(_, "triggerExecution"))), "ms"),
      ("streaming.addBatch_ms", median(trig.map(dur(_, "addBatch"))), "ms"),
      ("streaming.offsets_ms", median(trig.map(t =>
        dur(t, "walCommit") + dur(t, "commitOffsets") + dur(t, "latestOffset"))), "ms"),
      ("spark.jobs_per_batch", jobs.count(inBatch) / nb, "count"),
      ("spark.tasks_per_batch", batchTasks.size / nb, "count"),
      ("spark.busy_share", tasks.map(_.runMs).sum / (wallMs * cores), "ratio"),
      ("spark.shuffle_write_mb", batchTasks.map(_.shuffleBytes).sum / 1048576.0 / nb, "MB"),
      ("spark.gc_share", tracedGcMs / wallMs, "ratio"),
      ("spark.cached_mb_end", cachedMb, "MB"),
      ("cdc.infer_ms", median(inferMs.toSeq), "ms"),
      ("cdc.decode_us_per_event", decodeNs.map(_._1).sum / 1e3 / evDecode, "us"),
      ("cdc.dedup_us_per_event", dedupNs.map(_._1).sum / 1e3 / evDecode, "us"),
      ("cdc.dedup_keep_ratio", dedupNs.map(_._3).sum.toDouble / dedupNs.map(_._2).sum, "ratio"),
      ("tables.merge_ms", median(mergeMs.toSeq), "ms"),
      ("tables.files_per_commit", commitFiles.map(_._1).sum.toDouble / commitFiles.size, "count"),
      ("tables.bytes_per_commit", commitFiles.map(_._2).sum.toDouble / commitFiles.size, "B"),
      ("tables.live_groups", liveGroups.toDouble, "count"),
      ("tables.read_kb_per_point", pointReadBytes / 1024.0 / math.max(1, pointCount), "KB"),
      ("plans.analysis_ms", median(planMs.getOrElse("plans.analysis", Nil).toSeq), "ms"),
      ("plans.optimize_ms", median(planMs.getOrElse("plans.optimize", Nil).toSeq), "ms"),
      ("plans.planning_ms", median(planMs.getOrElse("plans.planning", Nil).toSeq), "ms"),
      ("plans.exec_ms", median(planMs.getOrElse("plans.exec", Nil).toSeq), "ms"),
      ("trace.overhead_pct", overhead, "%")
    ) ++ Seq("bench", "streaming", "cdc", "tables", "plans").map(l =>
      (s"self.${l}_ms", self.getOrElse(l, 0.0), "ms"))
  }
}
