package perfbench

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}
import java.util.{Base64, SplittableRandom}
import scala.collection.mutable

/** One change event. The row image it carries is a pure function of
  * (seed, dest, key, ver, tier), so the model keeps only this small record
  * per key and re-derives every column value when it checks a table.
  */
final case class Event(dest: Int, key: Long, op: Char, ver: Int, tsNs: Long, tier: Boolean)

/** The column values of one row image, derived deterministically. */
final class Image(seed: Long, e: Event) {
  private val r = new SplittableRandom(Gen.mix(seed, e.dest, e.key, e.ver))
  val status: String = Gen.Statuses(r.nextInt(Gen.Statuses.length))
  val amount: Long = r.nextLong(10000000000L)                  // decimal(12,2) unscaled
  val balance: Long = r.nextLong(-1000000000000L, 1000000000000L) // decimal(18,4) unscaled
  val createdMicros: Long = Gen.BaseMicros + Math.floorMod(e.key * 7919L, 400000000L) * 1000L + e.key % 1000
  val updatedMicros: Long = Math.floorDiv(e.tsNs, 1000L)
  val birthDay: Int = r.nextInt(20000)
  val active: Boolean = r.nextInt(4) != 0
  val score: Double = r.nextInt(10000000) / 100.0
  val ratio: Double = r.nextDouble()
  val city: String = Gen.Cities(r.nextInt(Gen.Cities.length))
  val country: String = Gen.Countries(r.nextInt(Gen.Countries.length))
  val qty: Int = r.nextInt(-1000, 1000)
  val note: String = {
    val n = r.nextInt(48)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(Gen.NoteChars.charAt(r.nextInt(Gen.NoteChars.length))); i += 1 }
    sb.toString
  }
  val tier: String = if (e.tier) Gen.Tiers(r.nextInt(Gen.Tiers.length)) else null
  def attrs: String = s"""{"k":${e.key},"v":${e.ver},"tags":["${status}","${city}"]}"""

  /** Typed values in [[Gen.Columns]] order, as Spark returns them with
    * `spark.sql.datetime.java8API.enabled=true`; `tier` last, null when
    * the row was written before its table gained the column.
    */
  def typed(op: Char): Array[AnyRef] = Array[AnyRef](
    java.lang.Long.valueOf(e.key), s"name_${e.key}", status,
    JBigDecimal.valueOf(amount, 2), JBigDecimal.valueOf(balance, 4),
    LocalDateTime.ofEpochSecond(Math.floorDiv(createdMicros, 1000000L),
      (Math.floorMod(createdMicros, 1000000L) * 1000L).toInt, ZoneOffset.UTC),
    Instant.ofEpochSecond(Math.floorDiv(updatedMicros, 1000000L),
      Math.floorMod(updatedMicros, 1000000L) * 1000L),
    LocalDate.ofEpochDay(birthDay), java.lang.Boolean.valueOf(active),
    java.lang.Double.valueOf(score), java.lang.Double.valueOf(ratio), attrs,
    city, country, Integer.valueOf(qty), java.lang.Long.valueOf(e.ver.toLong),
    s"user${e.key}@example.com", note, op.toString,
    java.lang.Long.valueOf(e.tsNs), java.lang.Boolean.FALSE, tier)
}

/** Seeded generator of Debezium JSON envelopes (`{schema,payload}` key and
  * value, flattened with the unwrap transform's `__op`, `__source_ts_ns`
  * and `__deleted` fields) and the model of what the tables must hold.
  */
object Gen {
  val Statuses = Array("new", "active", "suspended", "closed", "pending", "archived")
  val Cities = Array("Berlin", "Lagos", "Lima", "Osaka", "Pune", "Quito", "Oslo", "Perth")
  val Countries = Array("DE", "NG", "PE", "JP", "IN", "EC", "NO", "AU")
  val Tiers = Array("gold", "silver", "bronze")
  val NoteChars = "abcdefghijklmnopqrstuvwxyz ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  val BaseMicros = 1577836800000000L // 2020-01-01
  val BaseNs = 1700000000000000000L

  /** Column names in table order; `tier` is the column one destination
    * gains mid-stream in the trickle workload. */
  val Columns: Array[String] = Array("id", "name", "status", "amount", "balance",
    "created_at", "updated_at", "birth_date", "is_active", "score", "ratio", "attrs",
    "city", "country", "qty", "version", "email", "note",
    "__op", "__source_ts_ns", "__deleted", "tier")

  def mix(xs: Long*): Long = xs.foldLeft(0x9E3779B97F4A7C15L) { (h, x) =>
    var z = h ^ (x + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2))
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def field(name: String, tpe: String, extra: String = ""): String =
    s"""{"field":"$name","type":"$tpe","optional":${name != "id"}$extra}"""

  private def valueSchema(dest: String, tier: Boolean): String = Seq(
    field("id", "int64"), field("name", "string"), field("status", "string"),
    field("amount", "bytes", ""","name":"org.apache.kafka.connect.data.Decimal","version":1,"parameters":{"scale":"2","connect.decimal.precision":"12"}"""),
    field("balance", "bytes", ""","name":"org.apache.kafka.connect.data.Decimal","version":1,"parameters":{"scale":"4","connect.decimal.precision":"18"}"""),
    field("created_at", "int64", ""","name":"io.debezium.time.MicroTimestamp","version":1"""),
    field("updated_at", "string", ""","name":"io.debezium.time.ZonedTimestamp","version":1"""),
    field("birth_date", "int32", ""","name":"io.debezium.time.Date","version":1"""),
    field("is_active", "boolean"), field("score", "double"), field("ratio", "double"),
    field("attrs", "string", ""","name":"io.debezium.data.Json","version":1"""),
    field("city", "string"), field("country", "string"), field("qty", "int32"),
    field("version", "int64"), field("email", "string"), field("note", "string"),
    field("__op", "string"), field("__source_ts_ns", "int64"), field("__deleted", "boolean")
  ).++(if (tier) Seq(field("tier", "string")) else Nil)
    .mkString("""{"type":"struct","fields":[""", ",", s"""],"optional":false,"name":"$dest.Value"}""")

  private def keySchema(dest: String): String =
    s"""{"type":"struct","fields":[{"field":"id","type":"int64","optional":false}],"optional":false,"name":"$dest.Key"}"""

  private def b64(unscaled: Long): String =
    Base64.getEncoder.encodeToString(BigInteger.valueOf(unscaled).toByteArray)

  private def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"' || c == '\\') sb.append('\\')
      sb.append(c); i += 1
    }
    sb.append('"')
  }

  private def payload(seed: Long, e: Event): String = {
    val im = new Image(seed, e)
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"id\":").append(e.key)
    sb.append(",\"name\":\"name_").append(e.key).append('"')
    sb.append(",\"status\":\"").append(im.status).append('"')
    sb.append(",\"amount\":\"").append(b64(im.amount)).append('"')
    sb.append(",\"balance\":\"").append(b64(im.balance)).append('"')
    sb.append(",\"created_at\":").append(im.createdMicros)
    val upd = Instant.ofEpochSecond(Math.floorDiv(im.updatedMicros, 1000000L),
      Math.floorMod(im.updatedMicros, 1000000L) * 1000L)
    sb.append(",\"updated_at\":\"").append(upd.toString).append('"')
    sb.append(",\"birth_date\":").append(im.birthDay)
    sb.append(",\"is_active\":").append(im.active)
    sb.append(",\"score\":").append(im.score)
    sb.append(",\"ratio\":").append(im.ratio)
    sb.append(",\"attrs\":"); quote(sb, im.attrs)
    sb.append(",\"city\":\"").append(im.city).append('"')
    sb.append(",\"country\":\"").append(im.country).append('"')
    sb.append(",\"qty\":").append(im.qty)
    sb.append(",\"version\":").append(e.ver)
    sb.append(",\"email\":\"user").append(e.key).append("@example.com\"")
    sb.append(",\"note\":\"").append(im.note).append('"')
    sb.append(",\"__op\":\"").append(e.op).append('"')
    sb.append(",\"__source_ts_ns\":").append(e.tsNs)
    sb.append(",\"__deleted\":").append(e.op == 'd')
    if (e.tier) sb.append(",\"tier\":\"").append(im.tier).append('"')
    sb.append('}').toString
  }

  /** One envelope line: the key and value envelopes are JSON strings, as
    * Debezium Server hands them to a sink. */
  def envelope(seed: Long, destName: String, e: Event): String = {
    val key = s"""{"schema":${keySchema(destName)},"payload":{"id":${e.key}}}"""
    val value = s"""{"schema":${valueSchema(destName, e.tier)},"payload":${payload(seed, e)}}"""
    val sb = new java.lang.StringBuilder(value.length + key.length + 64)
    sb.append("{\"destination\":"); quote(sb, destName)
    sb.append(",\"key\":"); quote(sb, key)
    sb.append(",\"value\":"); quote(sb, value)
    sb.append("}\n").toString
  }

  /** Write events as one JSON-lines file (atomically, via a sibling temp
    * name, so a file-source stream never sees a partial file). */
  def writeFile(seed: Long, destNames: Int => String, events: Iterable[Event],
                path: java.nio.file.Path): Unit = {
    val tmp = path.resolveSibling("." + path.getFileName + ".tmp")
    val out = new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(tmp), 1 << 16)
    try events.foreach(e => out.write(envelope(seed, destNames(e.dest), e).getBytes(UTF_8)))
    finally out.close()
    java.nio.file.Files.move(tmp, path, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Zipf(s) sampler over ranks 0 until n (rank 0 hottest). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      var acc = 0.0
      val total = w.sum
      w.map { x => acc += x; acc / total }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}

/** The generator's own record of every key's final state: the last writer
  * by source ts, op priority on ts ties (c < r < u < d), later arrival on
  * full ties, applied batch by batch; hard deletes remove the key. The
  * generator reads it to pick realistic ops; the program never sees it.
  */
final class Model(val seed: Long, val dests: Int) {
  val live: Array[mutable.LongMap[Event]] = Array.fill(dests)(mutable.LongMap.empty[Event])
  /** Whether each destination's table has gained the `tier` column. */
  val hasTier: Array[Boolean] = Array.fill(dests)(false)

  private def prio(op: Char): Int = op match {
    case 'c' => 1; case 'r' => 2; case 'u' => 3; case 'd' => 4; case _ => 0
  }

  /** Apply one pipeline batch. */
  def applyBatch(events: Iterable[Event]): Unit = {
    val winners = mutable.LinkedHashMap.empty[(Int, Long), Event]
    events.foreach { e =>
      if (e.tier) hasTier(e.dest) = true
      val k = (e.dest, e.key)
      winners.get(k) match {
        case Some(w) if w.tsNs > e.tsNs || (w.tsNs == e.tsNs && prio(w.op) > prio(e.op)) => ()
        case _ => winners(k) = e
      }
    }
    winners.valuesIterator.foreach { e =>
      if (e.op == 'd') live(e.dest).remove(e.key) else live(e.dest)(e.key) = e
    }
  }

  def columns(dest: Int): Array[String] =
    if (hasTier(dest)) Gen.Columns else Gen.Columns.dropRight(1)

  /** Typed row of a live key, or None when absent. */
  def row(dest: Int, key: Long): Option[Array[AnyRef]] =
    live(dest).get(key).map(e => new Image(seed, e).typed(e.op).take(columns(dest).length))

  /** (row count, order-independent checksum) of a destination. */
  def digest(dest: Int): (Long, Long) = {
    var sum = 0L
    val n = columns(dest).length
    live(dest).valuesIterator.foreach { e =>
      sum += Check.rowHash(new Image(seed, e).typed(e.op), n)
    }
    (live(dest).size.toLong, sum)
  }

  /** status -> (count, sum(amount)) over live rows with is_active. */
  def activeByStatus(dest: Int): Map[String, (Long, JBigDecimal)] = {
    val acc = mutable.Map.empty[String, (Long, JBigDecimal)]
    live(dest).valuesIterator.foreach { e =>
      val im = new Image(seed, e)
      if (im.active) {
        val (c, s) = acc.getOrElse(im.status, (0L, JBigDecimal.ZERO.setScale(2)))
        acc(im.status) = (c + 1, s.add(JBigDecimal.valueOf(im.amount, 2)))
      }
    }
    acc.toMap
  }
}
