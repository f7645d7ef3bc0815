package perfbench

import graft.tables.ManagedTable
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Self-tests of the benchmark itself: the generator is deterministic, and
  * the checker catches a corrupted row. */
object SelfTest {

  private def digest(dir: Path): Map[String, String] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val md = java.security.MessageDigest.getInstance("SHA-256")
      dir.relativize(p).toString -> md.digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
    }.toMap
    finally st.close()
  }

  def run(spark: SparkSession, out: Path, cores: Int): Boolean = {
    def bench(seed: Long) = new Bench(spark, "cdc_bulk", seed, 1, trace = false, out, cores, bulkKeys = 2000)
    var ok = true
    def expect(what: String, cond: Boolean): Unit = {
      println(s"${if (cond) "PASS" else "FAIL"} $what")
      ok &&= cond
    }

    val gen = out.resolve("selftest-gen")
    Seq("a" -> 7L, "b" -> 7L, "c" -> 8L).foreach { case (d, s) => bench(s).writeSample(gen.resolve(d)) }
    val (a, b, c) = (digest(gen.resolve("a")), digest(gen.resolve("b")), digest(gen.resolve("c")))
    expect(s"same seed gives byte-identical input files (${a.size} files)", a.nonEmpty && a == b)
    expect("another seed gives different input files", a.keySet == c.keySet && a != c)

    val wh = out.resolve("selftest-check").resolve("wh")
    val ds = bench(11L).bulkInto(wh)
    val clean = ds.names.indices.map(d => Check.table(
      ManagedTable.load(spark, wh.toString, ds.table(d)).get.read(), ds.model, d))
    expect("checker accepts the program's tables", clean.forall(_.isEmpty))

    // corrupt one row of a copy of table 0 with a later commit
    val copy = out.resolve("selftest-check").resolve("copy")
    org.apache.commons.io.FileUtils.copyDirectory(wh.toFile, copy.toFile)
    val t = ManagedTable.load(spark, copy.toString, ds.table(0)).get
    val victim = t.read().orderBy("id").limit(1)
    val key = victim.collect().head.getAs[Long]("id")
    t.merge(victim.withColumn("note", lit("corrupted"))
      .withColumn("__source_ts_ns", col("__source_ts_ns") + 1))
    val copied = ManagedTable.load(spark, copy.toString, ds.table(0)).get
    expect("checker catches one corrupted row in the copied table",
      Check.table(copied.read(), ds.model, 0).isDefined)
    expect("checker catches the corrupted row in a point answer",
      Check.point(copied.read().filter(col("id") === key).collect(), ds.model, 0, key).isDefined)
    expect("the original table still passes",
      Check.table(ManagedTable.load(spark, wh.toString, ds.table(0)).get.read(), ds.model, 0).isEmpty)
    println(s"self-test ${if (ok) "passed" else "FAILED"}")
    ok
  }
}
