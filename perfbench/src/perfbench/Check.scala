package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import scala.util.hashing.MurmurHash3

/** The checker: compares what the program wrote with the [[Model]]. It
  * uses only Spark's own row decoding and a canonical text form of each
  * value, never the program's code.
  */
object Check {

  private def canon(v: Any): String = v match {
    case null => "␀"
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case x => x.toString
  }

  /** 64-bit hash of the canonical text of the first `n` values. */
  def rowHash(values: Array[AnyRef], n: Int): Long = {
    val s = (0 until n).map(i => canon(values(i))).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def rowValues(r: Row, names: Array[String]): Array[AnyRef] =
    names.map(n => r.getAs[AnyRef](n))

  /** (row count, checksum) of a table read, columns in `names` order. */
  def digest(df: DataFrame, names: Array[String]): (Long, Long) = {
    val n = names.length
    df.select(names.map(col).toIndexedSeq: _*).rdd
      .map(r => (1L, rowHash(Array.tabulate[AnyRef](n)(i => r.get(i).asInstanceOf[AnyRef]), n)))
      .fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
  }

  /** Mismatch description, or None when the table equals the model. */
  def table(df: DataFrame, model: Model, dest: Int): Option[String] = {
    val want = model.columns(dest)
    val have = df.columns
    if (have.toSet != want.toSet)
      Some(s"columns ${have.mkString(",")} != model ${want.mkString(",")}")
    else {
      val got = digest(df, want)
      val exp = model.digest(dest)
      if (got == exp) None else Some(s"(rows, checksum) $got != model $exp")
    }
  }

  /** Point-lookup answer vs the model's row for the key. */
  def point(rows: Array[Row], model: Model, dest: Int, key: Long): Option[String] = {
    val names = model.columns(dest)
    (rows.toSeq, model.row(dest, key)) match {
      case (Seq(), None) => None
      case (Seq(r), Some(m)) =>
        val got = rowValues(r, names)
        if (rowHash(got, names.length) == rowHash(m, names.length)) None
        else Some(s"id=$key: ${got.map(canon).mkString("|")} != model ${m.map(canon).mkString("|")}")
      case (rs, m) => Some(s"id=$key: ${rs.length} row(s), model has ${m.size}")
    }
  }

  /** `status, n, s` aggregate answer vs the model. */
  def scan(rows: Array[Row], model: Model, dest: Int): Option[String] = {
    val got = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getAs[java.math.BigDecimal](2))).toMap
    val exp = model.activeByStatus(dest)
    val same = got.keySet == exp.keySet && got.forall { case (k, (n, s)) =>
      val (en, es) = exp(k)
      n == en && s.compareTo(es) == 0
    }
    if (same) None else Some(s"aggregate $got != model $exp")
  }
}
