package ingestbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import graft.expr.{Sanitize, ZipEntries}
import graft.sources.{MiniFtp, MiniSftp, PermanentProtocolException, RemoteClient, RemoteClientPool, RemoteListing,
  RemoteRetry, RemoteUrl}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One benchmark run: one workload, one seed, one process.
  *
  * Closed loop: one pass at a time, like non-overlapping cron ticks.
  * Every pass is audited against the generator's expected sink and
  * plan-checked. With `--trace 0` it reports the end-to-end metrics;
  * with `--trace 1` the per-layer metrics, and writes spans and
  * per-file rows under `--out`. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, out: File)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Corpus.Workloads.contains(w), s"unknown workload '$w' (known: ${Corpus.Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")), new File(need("out")))
  }

  /** Exits explicitly: a failed run may leave Spark's non-daemon
    * threads running, which would keep the JVM alive. */
  def main(args: Array[String]): Unit = {
    val code =
      try { println(new Run(parse(args)).execute()); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    sys.exit(code)
  }

  private[ingestbench] def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${ms.mkString(",")}}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("ingestbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

final class Run(o: Main.Opts) {
  import Main._

  private val scheme = Corpus.scheme(o.workload)
  private val corpusRoot = new File(o.work, "corpus")
  private var spark: SparkSession = _
  private val capture = new IngestPass.PlanCapture
  private val spans = new Spans
  private val engine = new EngineListener(spans)
  private val streams = new StreamListener(spans)
  private var attempted = 0L
  private var failed = 0L
  private val problems = Seq.newBuilder[String]
  private var lastFacts = PlanFacts(0, zipEntries = false, sanitize = false)

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Session built, extensions and the sanitize function registered,
    * a loopback server listening on every source directory. */
  private def setUp(dirs: Seq[File]): Unit = spans("setup") {
    spark = session(o.work)
    Sanitize.register(spark)
    spark.listenerManager.register(capture)
    if (o.trace) spark.streams.addListener(streams)
    if (scheme == "sftp") { MiniSftp.hostKey; dirs.foreach(d => MiniSftp.serve(d.getAbsolutePath)) }
    else dirs.foreach(d => MiniFtp.serve(d.getAbsolutePath))
  }

  private def tearDown(): Unit = if (spark != null) { spark.stop(); spark = null }

  private def record(r: AuditResult, what: String): Unit = {
    attempted += r.expected
    failed += r.failed
    r.problems.take(5).foreach(p => problems += s"$what: $p")
  }

  /** One batch pass plus its read-back audit; returns wall seconds. */
  private def pass(corpus: Corpus, urls: Seq[String], label: String): Double = {
    val sink = new File(o.work, s"sink-$label").getPath
    capture.clear()
    val t0 = System.nanoTime()
    spans("pass") {
      spans("pass.write")(IngestPass.batch(spark, urls, corpus.manifest, sink))
      val audit = spans("pass.audit")(Audit.check(corpus.expected, Audit.read(spark, sink)))
      record(audit, label)
    }
    val dt = secs(t0)
    val facts = capture.awaitRemotePlan()
    if (!facts.ok) {
      failed += 1
      problems += s"$label: executed plan lacks RemoteFileSource, zip_entries or sanitize_filename ($facts)"
    }
    lastFacts = facts
    dt
  }

  def execute(): String = {
    val jvmStart = ProcessHandle.current().info().startInstant().get().toEpochMilli
    // corpus generation is not set-up time: it is timed and taken out
    val g0 = System.nanoTime()
    val corpus = Corpus.generate(o.workload, o.seed)
    val dirs = corpus.write(corpusRoot)
    val genS = secs(g0)
    setUp(dirs)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - genS
    val urls = IngestPass.urls(scheme, dirs)
    spans.pass = 1
    val coldStart = System.nanoTime()
    val cold = if (o.trace) engineOn(pass(corpus, urls, "cold")) else pass(corpus, urls, "cold")
    // Untimed warm-up: at least one pass, then until twice --seconds
    // have passed since the cold pass began. Warm passes keep getting
    // faster while the JIT works (corpus_ftp: 2.8, 2.7, 2.3, then 2.2 s).
    do pass(corpus, urls, "warmup") while (secs(coldStart) < 2 * o.seconds)
    val result =
      if (o.trace) traced(corpus, dirs, urls)
      else {
        val warm = Seq.newBuilder[Double]
        val t0 = System.nanoTime()
        var n = 0
        while (n == 0 || secs(t0) < o.seconds) {
          n += 1
          spans.pass = 1 + n
          warm += pass(corpus, urls, "warm")
        }
        val passes = warm.result()
        val passS = median(passes)
        System.out.println(f"$n warm passes, median $passS%.4f s (${passes.map(p => f"$p%.3f").mkString(" ")}); " +
          f"cold pass $cold%.4f s; set-up $setupS%.3f s")
        Seq(("setup_s", setupS, "s"), ("cold_pass_s", cold, "s"),
          ("pass_s", passS, "s"), ("mb_s", corpus.landedBytes / 1e6 / passS, "MB/s"),
          ("files_s", corpus.expected.size / passS, "1/s"))
      }
    tearDown()
    val ps = problems.result()
    ps.foreach(p => System.out.println(s"AUDIT $p"))
    json(correct = failed == 0, attempted, failed, result)
  }

  // ------------------------------------------------------------ traced run

  private def close(c: RemoteClient): Unit = c match {
    case a: AutoCloseable => a.close()
    case _ => ()
  }

  private def timedMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Warm listing of one source: a second listing on a fresh client.
    * Returns (ms, files listed). */
  private def warmList(url: String): (Double, Int) = {
    val c = RemoteUrl.parse(url).client
    try { c.list(); val (files, ms) = timedMs(c.list()); (ms, files.size) }
    finally close(c)
  }

  /** Connect cost of a transport: the first call of a fresh client,
    * a fetch of a name the server does not have. It connects, logs in
    * (FTP: greeting, USER, PASS, TYPE, CWD) or completes the SSH
    * handshake and SFTP session, and gets one refusal (FTP: PASV and
    * RETR answered 550; SFTP: OPEN answered no-such-file), so no data
    * is transferred. Median over `clients` fresh clients. */
  private def connectMs(url: String, clients: Int): Double = median((1 to clients).map { _ =>
    val c = RemoteUrl.parse(url).client
    try {
      val t0 = System.nanoTime()
      val refused =
        try { c.fetch("no such file"); false }
        catch { case _: PermanentProtocolException => true }
      require(refused, s"fetch of a missing file was not refused: $url")
      (System.nanoTime() - t0) / 1e6
    } finally close(c)
  })

  /** Fetches `files` over one warm client per source; per-file rows. */
  private def fetchAll(corpus: Corpus, urls: Seq[String], pick: Seq[SrcFile]): Seq[FileRow] = {
    val bySource = corpus.sources.zip(urls).toMap
    pick.groupBy(_.source).toSeq.sortBy(_._1).flatMap { case (src, fs) =>
      val c = RemoteUrl.parse(bySource(src)).client
      try {
        c.list()
        fs.map { f =>
          val r0 = RemoteRetry.observedRetries.get
          val (bytes, ms) = timedMs(c.fetch(f.name))
          val status =
            if (bytes.length < f.bytes.length) "short"
            else if (Corpus.crc(bytes) != Corpus.crc(f.bytes) || bytes.length != f.bytes.length) "corrupt"
            else "ok"
          FileRow(src, f.name, bytes.length, ms, RemoteRetry.observedRetries.get - r0, status)
        }
      } finally close(c)
    }
  }

  private def p50(rows: Seq[FileRow]): Double =
    median(rows.filter(_.bytes <= 65536).map(_.fetchMs))

  private def mbS(row: FileRow): Double = row.bytes / 1e6 / (row.fetchMs / 1e3)

  private def traced(corpus: Corpus, dirs: Seq[File], urls: Seq[String]): Seq[(String, Double, String)] = {
    val retries0 = RemoteRetry.observedRetries.get
    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    oldGen.foreach(_.resetPeakUsage())

    // pairs of one untraced and one traced warm pass, in alternating
    // order so that warm-up still in progress favours neither side; at
    // least two pairs, then until --seconds have passed
    case class PassStat(wall: Double, d: engine.Snap, driverMs: Double, gapMs: Double,
        created: Long, reused: Long)
    val untraced = Seq.newBuilder[Double]
    val t0 = System.nanoTime()
    val tracedPasses = Iterator.from(1).takeWhile(i => i <= 2 || secs(t0) < o.seconds).map { i =>
      if (i % 2 == 1) { spans.pass = 2 * i; untraced += pass(corpus, urls, "untraced") }
      spans.pass = 2 * i + 1
      engine.resetSpan()
      val s0 = engine.snap()
      val c0 = RemoteClientPool.created.get
      val u0 = RemoteClientPool.reused.get
      val wall = engineOn { val w = pass(corpus, urls, "traced"); drainBus(); w }
      val s1 = engine.snap()
      val taskSpan = math.max(0L, engine.lastFinish.get - engine.firstLaunch.get)
      val cover = Spans.union(engine.jobIntervals.asScala.toSeq.map { case (a, b) =>
        (math.max(a, engine.firstLaunch.get), math.min(b, engine.lastFinish.get))
      })
      val stat = PassStat(wall, engine.Snap(s1.jobs - s0.jobs, s1.tasks - s0.tasks,
          s1.taskMs - s0.taskMs, s1.gcMs - s0.gcMs),
        math.max(0.0, wall * 1e3 - taskSpan), math.max(0L, taskSpan - cover).toDouble,
        RemoteClientPool.created.get - c0, RemoteClientPool.reused.get - u0)
      if (i % 2 == 0) { spans.pass = 2 * i; untraced += pass(corpus, urls, "untraced") }
      stat
    }.toSeq
    val facts = lastFacts
    spans.pass = 0

    // Standalone layer calls, on this workload's own inputs. The calls
    // that borrow pooled clients run first: the loopback servers drop a
    // control connection idle for 15-20 s while the pool keeps it for
    // 60 s, so a pooled client left idle behind slower probes would
    // cost a retry here that no pass pays.
    val (_, listMs) = spans("source.list")(timedMs(RemoteListing.listAll(urls)))
    val (_, scanMs) = spans("source.scan")(timedMs(
      IngestPass.read(spark, urls).select(sum(length(col("content")))).collect()))
    val streamS = spans("stream")(streamPass(corpus, urls))
    val ftpUrls = IngestPass.urls("ftp", dirs)
    val sftpUrls = IngestPass.urls("sftp", dirs)
    MiniSftp.hostKey
    val empty = new File(o.work, "empty-source")
    empty.mkdirs()
    val ftpConnect = spans("ftp.connect")(connectMs(IngestPass.urls("ftp", Seq(empty)).head, 15))
    val sftpHandshake = spans("sftp.handshake")(connectMs(IngestPass.urls("sftp", Seq(empty)).head, 3))
    val ftpList = spans("ftp.list")(ftpUrls.map(warmList))
    val own = if (scheme == "sftp") sftpUrls else ftpUrls
    val rows = spans(s"$scheme.fetch")(fetchAll(corpus, own, corpus.files))
    val (ftpRows, sftpRows) =
      if (scheme == "sftp") (spans("ftp.fetch")(fetchAll(corpus, ftpUrls, corpus.files)), rows)
      else {
        val small = corpus.files.filter(_.bytes.length <= 65536).take(5)
        val capped = corpus.files.filter(_.bytes.length <= (4 << 20)).maxBy(_.bytes.length)
        (rows, spans("sftp.fetch")(fetchAll(corpus, sftpUrls, (small :+ capped).distinct)))
      }
    val explodeMbS = spans("explode")(explodeRate(corpus))
    val (sinkS, sinkFiles) = spans("sink.write")(sinkWrite())
    val fileUrls = IngestPass.urls("file", dirs)
    val filePass = (1 to 2).map(_ => pass(corpus, fileUrls, "file")).min

    // spans → self time per layer
    val all = spans.all
    val self = Spans.selfTimes(all)
    val inPasses = all.filter(s => s.pass >= 3 && s.pass % 2 == 1)
    def selfOf(name: String): Double = {
      val xs = inPasses.filter(_.name == name)
      xs.map(s => self(s.id)).sum / 1e9 / tracedPasses.size
    }
    val auditS = median(inPasses.filter(_.name == "pass.audit").map(_.dur / 1e9))
    val tracedS = median(tracedPasses.map(_.wall))
    val untracedS = median(untraced.result())

    o.out.mkdirs()
    spans.writeJsonl(new File(o.out, "spans.jsonl"))
    FileRow.writeCsv(new File(o.out, "files.csv"), rows)
    val streamN = streams.triggers.get.toDouble
    val m = Seq(
      ("ftp.connect_ms", ftpConnect, "ms"),
      ("ftp.list_ms_per_file", ftpList.map(_._1).sum / ftpList.map(_._2).sum, "ms"),
      ("ftp.fetch_ms_p50", p50(ftpRows), "ms"),
      ("ftp.fetch_mb_s", mbS(ftpRows.maxBy(_.bytes)), "MB/s"),
      ("sftp.handshake_ms", sftpHandshake, "ms"),
      ("sftp.fetch_ms_p50", p50(sftpRows), "ms"),
      ("sftp.fetch_mb_s", mbS(sftpRows.maxBy(_.bytes)), "MB/s"),
      ("source.list_ms", listMs, "ms"),
      ("source.scan_s", scanMs / 1e3, "s"),
      ("source.scans_per_pass", facts.remoteScans.toDouble, "count"),
      ("source.useful_frac", corpus.landedBytes.toDouble / (facts.remoteScans * corpus.listedBytes), "ratio"),
      ("source.retries", (RemoteRetry.observedRetries.get - retries0).toDouble, "count"),
      ("source.file_pass_s", filePass, "s"),
      ("pool.created", median(tracedPasses.map(_.created.toDouble)), "count"),
      ("pool.reused", median(tracedPasses.map(_.reused.toDouble)), "count"),
      ("explode.mb_s", explodeMbS, "MB/s"),
      ("sink.write_s", sinkS, "s"),
      ("sink.mb_s", corpus.landedBytes / 1e6 / sinkS, "MB/s"),
      ("sink.files", sinkFiles.toDouble, "count"),
      ("audit.s", auditS, "s"),
      ("audit.failed_frac", failed.toDouble / math.max(1L, attempted), "ratio"),
      ("engine.jobs", median(tracedPasses.map(_.d.jobs.toDouble)), "count"),
      ("engine.tasks", median(tracedPasses.map(_.d.tasks.toDouble)), "count"),
      ("engine.task_ms", median(tracedPasses.map(_.d.taskMs.toDouble)), "ms"),
      ("engine.task_gc_ms", median(tracedPasses.map(_.d.gcMs.toDouble)), "ms"),
      ("engine.driver_ms", median(tracedPasses.map(_.driverMs)), "ms"),
      ("engine.gap_ms", median(tracedPasses.map(_.gapMs)), "ms"),
      ("engine.heap_peak_mb", oldGen.map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB"),
      ("stream.triggers", streamN, "count"),
      ("stream.commit_ms", streams.commitMs.get.toDouble, "ms"),
      ("stream.trigger_ms", median(streams.triggerMs.asScala.toSeq.map(_.doubleValue)), "ms"),
      ("stream.pass_s", streamS, "s"),
      ("self.write_s", selfOf("pass.write"), "s"),
      ("self.audit_s", selfOf("pass.audit"), "s"),
      ("self.jobs_s", selfOf("spark.job"), "s"),
      ("trace.pass_s", tracedS, "s"),
      ("trace.overhead_s", tracedS - untracedS, "s"))
    System.out.println(s"per-layer (${o.workload}, seed ${o.seed}); spans and per-file rows in ${o.out}")
    m.foreach { case (n, v, u) => System.out.println(f"  $n%-24s $v%14.4f $u") }
    m
  }

  /** Runs `f` with the engine listener attached and recording spans. */
  private def engineOn[T](f: => T): T = {
    spark.sparkContext.addSparkListener(engine)
    try f finally spark.sparkContext.removeSparkListener(engine)
  }

  private def drainBus(): Unit = {
    val sc = spark.sparkContext
    try {
      val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(5000L)): Unit
    } catch { case _: Throwable => Thread.sleep(200) }
  }

  /** ZipEntries.extract over the workload's archives (or, for a corpus
    * without any, over one archive of its files), repeated for at
    * least 0.3 s; MB of members out per second. */
  private def explodeRate(corpus: Corpus): Double = {
    val archives = {
      val zs = corpus.files.filter(_.members.nonEmpty).map(_.bytes)
      if (zs.nonEmpty) zs
      else Seq(Corpus.zip(corpus.files.map(f => Member(f.name, f.mtimeS, f.bytes)), stored = false))
    }
    var out = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L)
      archives.foreach(a => out += ZipEntries.extract(a).map(_.size).sum)
    out / 1e6 / ((System.nanoTime() - t0) / 1e9)
  }

  /** Rewrites the last traced pass's sink from an in-memory copy: the
    * partitioned parquet write alone. Returns (seconds, files written). */
  private def sinkWrite(): (Double, Int) = {
    val rows = spark.read.parquet(new File(o.work, "sink-traced").getPath).cache()
    rows.count()
    val out = new File(o.work, "sink-rewrite")
    val t0 = System.nanoTime()
    rows.write.mode("overwrite").partitionBy("file_type").parquet(out.getPath)
    val dt = secs(t0)
    rows.unpersist(blocking = true)
    def parquetFiles(f: File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(parquetFiles).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    (dt, parquetFiles(out))
  }

  private def streamPass(corpus: Corpus, urls: Seq[String]): Double = {
    val sink = new File(o.work, "stream-sink").getPath
    val t0 = System.nanoTime()
    IngestPass.stream(spark, urls, corpus.manifest, sink, new File(o.work, "stream-ckpt").getPath)
    val dt = secs(t0)
    val deadline = System.currentTimeMillis() + 10000
    while (streams.terminated.get == 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val r = Audit.checkMultiset(corpus.expectedUnrenamed, Audit.read(spark, sink))
    record(r, "stream")
    dt
  }
}

/** One file fetched in the traced run. */
case class FileRow(source: String, name: String, bytes: Long, fetchMs: Double,
    retries: Long, status: String)

object FileRow {
  def writeCsv(f: File, rows: Seq[FileRow]): Unit = {
    def q(s: String) = "\"" + Audit.printable(s).replace("\"", "\"\"") + "\""
    val lines = "source,name,bytes,fetch_ms,retries,status" +: rows.map(r =>
      s"${q(r.source)},${q(r.name)},${r.bytes},${"%.3f".format(r.fetchMs)},${r.retries},${r.status}")
    java.nio.file.Files.write(f.toPath, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
