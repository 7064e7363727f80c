package ingestbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One row read back from a sink. */
case class Landed(name: String, size: Long, bytes: Long, crc: Long)

/** Audit verdict over one sink: each problem names the file and why. */
case class AuditResult(expected: Int, problems: Seq[String]) {
  def failed: Int = problems.size
  def ok: Boolean = problems.isEmpty
}

/** Read-back audit: the sink must hold exactly the expected files,
  * each complete and uncorrupted under its expected name. */
object Audit {

  def read(spark: SparkSession, sink: String): Seq[Landed] =
    spark.read.parquet(sink)
      .select(col("file_name"), col("size"),
        length(col("content")).cast("long"), crc32(col("content")))
      .collect().toSeq
      .map(r => Landed(r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

  /** Batch sink: names are unique, so files are matched by name. A
    * landed file with an unexpected name is "unsanitised" if its name
    * still holds characters the stage chain must replace, "misnamed"
    * if its content is an expected file's that did not land, and
    * "extra" otherwise. */
  def check(expected: Seq[Expected], landed: Seq[Landed]): AuditResult = {
    val byName = landed.groupBy(_.name)
    val problems = Seq.newBuilder[String]
    val missing = scala.collection.mutable.LinkedHashMap.empty[String, Expected]
    expected.foreach { e =>
      byName.get(e.name) match {
        case None => missing(e.name) = e
        case Some(Seq(l)) =>
          if (l.bytes < e.size || l.size != e.size) problems += s"short: ${e.name} (${l.bytes} of ${e.size} bytes)"
          else if (l.bytes != e.size || l.crc != e.crc) problems += s"corrupt: ${e.name}"
        case Some(ls) => problems += s"extra: ${e.name} landed ${ls.size} times"
      }
    }
    val known = expected.map(_.name).toSet
    landed.filterNot(l => known(l.name)).foreach { l =>
      val stolen = missing.collectFirst {
        case (n, e) if e.size == l.bytes && e.crc == l.crc => n
      }
      if (!Corpus.isSanitized(l.name)) problems += s"unsanitised: ${printable(l.name)}"
      else if (stolen.isDefined) {
        missing.remove(stolen.get)
        problems += s"misnamed: ${stolen.get} landed as ${l.name}"
      } else problems += s"extra: ${l.name}"
    }
    missing.keys.foreach(n => problems += s"missing: $n")
    AuditResult(expected.size, problems.result())
  }

  /** Streaming sink: no rename, so the same name may land more than
    * once; compared as multisets of (name, size, crc). */
  def checkMultiset(expected: Seq[Expected], landed: Seq[Landed]): AuditResult = {
    def key(n: String, s: Long, c: Long) = s"$n|$s|$c"
    val want = expected.groupBy(e => key(e.name, e.size, e.crc)).map { case (k, v) => k -> v.size }
    val got = landed.groupBy(l => key(l.name, l.bytes, l.crc)).map { case (k, v) => k -> v.size }
    val problems = (want.keySet ++ got.keySet).toSeq.sorted.flatMap { k =>
      val d = got.getOrElse(k, 0) - want.getOrElse(k, 0)
      if (d > 0) Seq.fill(d)(s"extra: ${printable(k)}")
      else Seq.fill(-d)(s"missing: ${printable(k)}")
    }
    AuditResult(expected.size, problems)
  }

  /** Control characters spelled as `\uXXXX`, for reports and CSV rows. */
  def printable(s: String): String =
    s.flatMap(c => if (c < ' ') f"\\u${c.toInt}%04x" else c.toString)
}
