package ingestbench

import java.io.File
import java.nio.file.Files

import graft.expr.Sanitize
import graft.sources.MiniFtp
import org.apache.spark.sql.Row

/** The benchmark's own tests: generator determinism, the sink oracle,
  * the audit's negative cases and the plan self-check. Run with
  * `python3 ingestbench/run.py --selftest`; exits non-zero on failure. */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch { case e: Throwable => failures += 1; println(s"FAIL $name: $e") }

  private def check(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  private def tree(root: File): Seq[(String, Long, Seq[Byte])] =
    Option(root.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { d =>
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).map { f =>
        (s"${d.getName}/${f.getName}", f.lastModified(), Files.readAllBytes(f.toPath).toSeq)
      }
    }

  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    work.mkdirs()

    test("oracle: sanitize follows the reference's table cases") {
      check(Corpus.sanitize("report final.txt") == "report final.txt", "spaces kept")
      check(Corpus.sanitize("a/b\\c?%*:|\"<>.txt") == "a-b-c--------.txt", "disallowed chars")
      check(Corpus.sanitize("\u0000x\u001f") == "-x-", "control chars")
      check(Corpus.sanitize("datañ♪.txt") == "data--.txt", "non-ASCII")
      check(Corpus.sanitize("  padded  ") == "padded", "outer spaces stripped")
      check(Corpus.sanitize("x😀y") == "x-y", "one '-' per code point")
    }

    test("oracle: collisions are renamed by (mtime, size) rank") {
      val c = Corpus.generate("small_files_ftp", 1)
      check(c.expected.exists(_.name.matches(".*_2(\\.[a-z]+)?")), "some file renamed _2")
      check(c.expected.map(_.name).distinct.size == c.expected.size, "final names unique")
      check(c.expected.forall(e => Corpus.isSanitized(e.name)), "final names sanitised")
      check(c.expectedUnrenamed.size == c.expected.size, "rename keeps the row count")
      val skipped = c.files.count(f => f.members.isEmpty &&
        c.manifest.contains((Corpus.sanitize(f.name), f.bytes.length.toLong)))
      check(skipped > 0, "the prior-run manifest skips some files")
    }

    for (w <- Corpus.Workloads) test(s"generator: $w is byte-identical per seed, seed-dependent otherwise") {
      val a = Corpus.generate(w, 11); val b = Corpus.generate(w, 11); val c = Corpus.generate(w, 12)
      val (da, db, dc) = (new File(work, s"$w-a"), new File(work, s"$w-b"), new File(work, s"$w-c"))
      a.write(da); b.write(db); c.write(dc)
      check(tree(da) == tree(db), "same seed, different corpus")
      check(a.expected == b.expected, "same seed, different expected sink")
      check(tree(da).map(_._3) != tree(dc).map(_._3), "second seed, same contents")
      def plainSizes(x: Corpus) = x.files.filter(_.members.isEmpty).map(_.bytes.length).sorted
      def memberSizes(x: Corpus) = x.files.flatMap(_.members).map(_.bytes.length).sorted
      check(plainSizes(a) == plainSizes(c) && memberSizes(a) == memberSizes(c),
        "second seed, different size mix")
      check(a.files.size == c.files.size && a.expected.size == c.expected.size,
        "second seed, different shape")
    }

    val spark = Main.session(work)
    Sanitize.register(spark)
    val capture = new IngestPass.PlanCapture
    spark.listenerManager.register(capture)
    val corpus = Corpus.generate("small_files_ftp", 3)
    val dirs = corpus.write(new File(work, "corpus"))
    dirs.foreach(d => MiniFtp.serve(d.getAbsolutePath))
    val urls = IngestPass.urls("ftp", dirs)
    val sink = new File(work, "sink").getPath

    test("a pass lands exactly the expected sink, through the program's plan") {
      capture.clear()
      IngestPass.batch(spark, urls, corpus.manifest, sink)
      val r = Audit.check(corpus.expected, Audit.read(spark, sink))
      check(r.ok, s"audit problems: ${r.problems.take(5)}")
      val f = capture.awaitRemotePlan()
      check(f.ok && f.remoteScans >= 1, s"plan facts $f")
    }

    test("plan check rejects a plan that bypasses the stage chain") {
      val p = spark.read.parquet(sink).queryExecution.executedPlan
      check(!PlanCheck.facts(p).ok, "a parquet re-read passed the plan check")
    }

    // the audit must catch each kind of damage in a real parquet sink
    val good = spark.read.parquet(sink).collect().toSeq
    val schema = spark.read.parquet(sink).schema
    def idx(n: String) = schema.fieldIndex(n)
    def damaged(label: String, rows: Seq[Row]): AuditResult = {
      val out = new File(work, s"sink-$label").getPath
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
        .write.mode("overwrite").parquet(out)
      Audit.check(corpus.expected, Audit.read(spark, out))
    }
    def withField(r: Row, n: String, v: Any): Row =
      Row.fromSeq(r.toSeq.updated(idx(n), v))
    val victim = good.indexWhere(r => r.getAs[Array[Byte]]("content").length > 10)
    def expectKind(r: AuditResult, kind: String): Unit =
      check(!r.ok && r.problems.exists(_.startsWith(kind)), s"expected '$kind', got ${r.problems}")

    test("audit fails on a truncated file") {
      val c = good(victim).getAs[Array[Byte]]("content")
      expectKind(damaged("short", good.updated(victim,
        withField(good(victim), "content", c.take(c.length - 7)))), "short")
    }
    test("audit fails on a corrupted file") {
      val c = good(victim).getAs[Array[Byte]]("content").clone()
      c(0) = (c(0) ^ 0xff).toByte
      expectKind(damaged("corrupt", good.updated(victim, withField(good(victim), "content", c))), "corrupt")
    }
    test("audit fails on a missing file") {
      expectKind(damaged("missing", good.patch(victim, Nil, 1)), "missing")
    }
    test("audit fails on an extra file") {
      expectKind(damaged("extra", good :+ withField(good(victim), "file_name", "zz extra copy.txt")), "extra")
    }
    test("audit fails on an unsanitised file name") {
      val raw = "bad\u0007name é.txt"
      expectKind(damaged("unsanitised", good.updated(victim,
        withField(good(victim), "file_name", raw))), "unsanitised")
    }
    test("audit fails on a misnamed file") {
      expectKind(damaged("misnamed", good.updated(victim,
        withField(good(victim), "file_name", "renamed elsewhere.txt"))), "misnamed")
    }
    test("streaming audit fails on a missing and on a duplicated file") {
      val got = Audit.read(spark, sink)
      val want = got.map(l => Expected(l.name, l.bytes, l.crc))
      check(Audit.checkMultiset(want, got).ok, "intact sink fails")
      check(!Audit.checkMultiset(want, got.drop(1)).ok, "missing row passes")
      check(!Audit.checkMultiset(want, got :+ got.head).ok, "duplicated row passes")
    }

    spark.stop()
    println(if (failures == 0) "ALL PASS" else s"$failures FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
