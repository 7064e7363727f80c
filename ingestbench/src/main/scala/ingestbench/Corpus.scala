package ingestbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

/** One member of a zip archive in the corpus. */
case class Member(name: String, mtimeS: Long, bytes: Array[Byte])

/** One file a source serves. `members` is non-empty for zip archives;
  * `bytes` is always the exact on-disk payload. */
case class SrcFile(source: String, name: String, mtimeS: Long,
    bytes: Array[Byte], members: Seq[Member] = Nil)

/** One row the sink must hold after a pass: final (sanitised, renamed)
  * name, size and CRC32 of the payload. */
case class Expected(name: String, size: Long, crc: Long)

/** A generated ingest corpus: what each source serves, the prior-run
  * manifest the pass anti-joins against, and the sink it must produce.
  * `expected` is the batch pass's sink (after collision rename);
  * `expectedUnrenamed` is the streaming pass's sink, which, like the
  * streaming ingest, skips the rename. */
case class Corpus(workload: String, seed: Long, sources: Seq[String],
    files: Seq[SrcFile], manifest: Seq[(String, Long)],
    expected: Seq[Expected], expectedUnrenamed: Seq[Expected]) {

  def listedBytes: Long = files.map(_.bytes.length.toLong).sum
  def landedBytes: Long = expected.map(_.size).sum

  /** Writes every source directory under `root`; returns `root/source`
    * paths in source order. Fails if the filesystem merged two names. */
  def write(root: File): Seq[File] = sources.map { src =>
    val dir = new File(root, src)
    dir.mkdirs()
    val mine = files.filter(_.source == src)
    mine.foreach { f =>
      val out = new File(dir, f.name)
      Files.write(out.toPath, f.bytes)
      require(out.setLastModified(f.mtimeS * 1000L), s"cannot set mtime of $out")
    }
    val onDisk = Option(dir.list()).map(_.length).getOrElse(0)
    require(onDisk == mine.size,
      s"$dir holds $onDisk files, expected ${mine.size}: the filesystem merged names")
    dir
  }
}

/** Seeded corpus generator and the sink oracle. The oracle re-derives,
  * independently of the program, what the ingest stage chain must
  * land: zip members replace their archive, names are sanitised
  * (reference semantics: every code point outside `[A-Za-z0-9._- ]`
  * becomes '-', then surrounding spaces are stripped), rows whose
  * (name, size) is in the prior-run manifest are skipped, and a name
  * shared by several rows gets `_<rank>` before its extension, ranked
  * by (mtime, size). */
object Corpus {
  val Workloads: Seq[String] = Seq("corpus_ftp", "corpus_sftp", "small_files_ftp")

  /** The corpus_sftp large file. It stays most of that corpus's bytes,
    * so the per-byte SFTP cost dominates, while one pass fits the run
    * time limit at the transfer rate of the seed commit. */
  val SftpLargeBytes = 2000000

  /** small_files_ftp file count. */
  val SmallFiles = 150

  def generate(workload: String, seed: Long): Corpus = workload match {
    case "corpus_ftp" => corpusFtp(seed)
    case "corpus_sftp" => corpusSftp(seed)
    case "small_files_ftp" => smallFiles(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Workloads.mkString(", ")})")
  }

  /** Transport the workload's pass reads through. */
  def scheme(workload: String): String =
    if (workload == "corpus_sftp") "sftp" else "ftp"

  // ---------------------------------------------------------------- oracle

  def sanitize(s: String): String = {
    val sb = new StringBuilder
    s.codePoints().forEach { cp =>
      val ok = (cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z') ||
        (cp >= '0' && cp <= '9') || cp == '.' || cp == '_' || cp == '-' || cp == ' '
      sb.append(if (ok) cp.toChar else '-')
    }
    sb.result().dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
  }

  def isSanitized(s: String): Boolean = s.nonEmpty && sanitize(s) == s

  def crc(b: Array[Byte]): Long = { val c = new CRC32; c.update(b); c.getValue }

  /** Zip detection as the stage chain does it: the last '.'-separated
    * token of the raw name, lower-cased. */
  private def isZip(name: String): Boolean =
    name.split("\\.", -1).last.toLowerCase == "zip"

  private case class Row(name: String, mtimeS: Long, bytes: Array[Byte])

  private def rename(name: String, rank: Int): String =
    if (rank == 1) name
    else {
      val dot = name.lastIndexOf('.')
      if (dot < 0) s"${name}_$rank"
      else s"${name.substring(0, dot)}_$rank${name.substring(dot)}"
    }

  private def oracle(files: Seq[SrcFile], manifest: Seq[(String, Long)])
      : (Seq[Expected], Seq[Expected]) = {
    val rows = files.flatMap { f =>
      // members land under their base name: directories are flattened
      if (isZip(f.name)) f.members.map(m => Row(sanitize(m.name.split('/').last), m.mtimeS, m.bytes))
      else Seq(Row(sanitize(f.name), f.mtimeS, f.bytes))
    }
    val skip = manifest.toSet
    val fresh = rows.filterNot(r => skip((r.name, r.bytes.length.toLong)))
    val renamed = fresh.groupBy(_.name).toSeq.flatMap { case (_, group) =>
      val ordered = group.sortBy(r => (r.mtimeS, r.bytes.length))
      ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
        require((a.mtimeS, a.bytes.length) != (b.mtimeS, b.bytes.length),
          s"generator bug: '${a.name}' rank tie makes the rename nondeterministic")
      }
      ordered.zipWithIndex.map { case (r, i) =>
        Expected(rename(r.name, i + 1), r.bytes.length, crc(r.bytes))
      }
    }
    val names = renamed.map(_.name)
    require(names.distinct.size == names.size,
      "generator bug: a renamed file collides with another name")
    val unrenamed = fresh.map(r => Expected(r.name, r.bytes.length, crc(r.bytes)))
    (renamed.sortBy(_.name), unrenamed.sortBy(e => (e.name, e.size, e.crc)))
  }

  private def build(workload: String, seed: Long, sources: Seq[String],
      files: Seq[SrcFile], manifest: Seq[(String, Long)]): Corpus = {
    val (exp, unrenamed) = oracle(files, manifest)
    Corpus(workload, seed, sources, files, manifest, exp, unrenamed)
  }

  // ------------------------------------------------------------- generator

  /** Independent stream per (seed, workload, item): the same seed gives
    * byte-identical files whatever order they are generated in. */
  private def rng(seed: Long, workload: String, item: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ workload.hashCode.toLong * 31L ^ item.toLong)

  private def randomBytes(r: SplittableRandom, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); r.nextBytes(b); b
  }

  /** Every file and member gets its own even-second mtime, so rename
    * ranks never tie and zip (2 s resolution) round-trips exactly. */
  private val BaseMtime = 1600000000L
  private def mtime(k: Int): Long = BaseMtime + 120L * k

  /** A zip holding `members`; STORED members keep their exact size
    * (the reference's test_file.zip is a stored archive). */
  def zip(members: Seq[Member], stored: Boolean): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    members.foreach { m =>
      val e = new ZipEntry(m.name)
      e.setTime(m.mtimeS * 1000L)
      if (stored) {
        e.setMethod(ZipEntry.STORED)
        e.setSize(m.bytes.length.toLong)
        e.setCompressedSize(m.bytes.length.toLong)
        e.setCrc(crc(m.bytes))
      }
      z.putNextEntry(e)
      z.write(m.bytes)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private val StaleManifest = Seq(("stale_entry.txt", 999L))

  /** BASELINE.md's 11-file reference corpus, all over FTP, split over
    * four source directories named after the reference's servers. */
  private def corpusFtp(seed: Long): Corpus = {
    val w = "corpus_ftp"
    var k = 0
    def plain(src: String, name: String, size: Int): SrcFile = {
      k += 1
      SrcFile(src, name, mtime(k), randomBytes(rng(seed, w, k), size))
    }
    def archive(src: String, name: String, stored: Boolean,
        members: Seq[(String, Int)]): SrcFile = {
      val ms = members.map { case (n, size) =>
        k += 1
        Member(n, mtime(k), randomBytes(rng(seed, w, k), size))
      }
      k += 1
      SrcFile(src, name, mtime(k), zip(ms, stored), ms)
    }
    val files = Seq(
      plain("ftp.gnu.org", "gcc-2.95.1.tar.gz", 12872765),
      plain("ftp.gnu.org", "find.txt.gz", 252053),
      plain("ftp.gnu.org", "ls-lrRt.txt.gz", 485688),
      plain("ftp.freebsd.org", "faq_en.pdf", 231353),
      plain("ftp.freebsd.org", "faq_en.tar.gz", 671137),
      archive("ftp.debian.org", "mime-support.zip", stored = false,
        Seq(("mime-support/mime.types", 24576), ("mime-support/README", 3210),
          ("mime-support/copyright", 1788))),
      archive("localhost", "test_file.zip", stored = true,
        Seq(("temp_file.txt", 5 * 1024 * 1024))),
      plain("localhost", "readme.txt", 379),
      plain("localhost", "KeyGenerator.png", 36672),
      plain("localhost", "WinFormClient.png", 80000),
      plain("localhost", "manual_en.pdf", 11937824))
    build(w, seed, files.map(_.source).distinct, files, StaleManifest)
  }

  /** The reference's SFTP share, from its two SFTP servers. */
  private def corpusSftp(seed: Long): Corpus = {
    val w = "corpus_sftp"
    val specs = Seq(
      ("test.rebex.net", "readme.txt", 379),
      ("test.rebex.net", "KeyGenerator.png", 36672),
      ("test.rebex.net", "WinFormClient.png", 80000),
      ("demo.wftpserver.com", "manual_en.pdf", SftpLargeBytes))
    val files = specs.zipWithIndex.map { case ((src, name, size), i) =>
      SrcFile(src, name, mtime(i + 1), randomBytes(rng(seed, w, i + 1), size))
    }
    build(w, seed, files.map(_.source).distinct, files, StaleManifest)
  }

  private val Words = Seq("report", "daily export", "invoice", "sensor log",
    "summary", "backup", "meter read", "orders", "ledger", "scan")
  private val Exts = Seq("txt", "csv", "json", "log", "dat", "xml", "bin")
  /** BMP letters only: each sanitises to exactly one '-', whatever the
    * JVM's filename encoding. */
  private val Unicode = Seq("é", "ñ", "ü", "ß", "ø", "Ж", "λ", "中", "ç", "å")
  private val Control = Seq("\t", "\u0001", "\u0007", "\u001b", "\u001f")

  /** [[SmallFiles]] files of 1-64 KB over three FTP sources. The shape
    * (sizes, which files are zips, duplicates, collisions, manifest
    * share) is fixed; the seed picks contents and name decorations. */
  private def smallFiles(seed: Long): Corpus = {
    val w = "small_files_ftp"
    val shape = new SplittableRandom(20260117L)
    val sources = Seq("src-a", "src-b", "src-c")
    val named = new SplittableRandom(seed ^ 0x5DEECE66DL)
    var k = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[SrcFile]
    (0 until SmallFiles).foreach { i =>
      val src = sources(i % 3)
      val kind = shape.nextInt(100)
      val size = math.round(math.pow(2, 10 + shape.nextDouble() * 6)).toInt
      k += 1
      val r = rng(seed, w, k)
      def decorated(word: String, ext: String): String = {
        val u = if (named.nextInt(3) == 0) Unicode(named.nextInt(Unicode.size)) else ""
        val c = if (named.nextInt(8) == 0) Control(named.nextInt(Control.size)) else ""
        f"$word $i%04d$u$c.$ext"
      }
      val word = Words(shape.nextInt(Words.size))
      val ext = Exts(shape.nextInt(Exts.size))
      if (kind < 4) {
        // a tiny zip; one member reuses a plain file's name from the
        // other sources, so the exploded rows collide and get renamed
        val nm = 2 + shape.nextInt(2)
        val ms = (0 until nm).map { j =>
          k += 1
          val mname =
            if (j == 0 && i > 3) {
              val base = out(out.size - 1 - shape.nextInt(3))
              if (base.members.isEmpty) base.name else s"member $i-$j.txt"
            } else s"member $i-$j.txt"
          Member(s"dir$j/$mname", mtime(k), randomBytes(rng(seed, w, k), 1024 + shape.nextInt(7168)))
        }
        out += SrcFile(src, decorated("bundle", "zip"), mtime(k + 1), zip(ms, stored = false), ms)
        k += 1
      } else if (kind < 14 && out.nonEmpty) {
        // a content duplicate of an earlier plain file under a new name
        val orig = out(shape.nextInt(out.size))
        val bytes = if (orig.members.isEmpty) orig.bytes else randomBytes(r, size)
        out += SrcFile(src, decorated(word, ext), mtime(k), bytes)
      } else if (kind < 22 && out.size > 3) {
        // a name collision: an earlier file's exact name, in another source
        val orig = out(out.size - 1 - shape.nextInt(3))
        val other = sources((sources.indexOf(orig.source) + 1 + shape.nextInt(2)) % 3)
        val name =
          if (orig.members.isEmpty && !out.exists(f => f.source == other && f.name == orig.name))
            orig.name
          else decorated(word, ext)
        out += SrcFile(other, name, mtime(k), randomBytes(r, size))
      } else out += SrcFile(src, decorated(word, ext), mtime(k), randomBytes(r, size))
    }
    val files = out.toSeq
    val byKey = files.groupBy(f => (f.source, f.name))
    require(byKey.values.forall(_.size == 1), "generator bug: duplicate file in one source")
    // the cron re-run case: every fifth plain file landed in a prior run
    val manifest = files.zipWithIndex.collect {
      case (f, i) if f.members.isEmpty && i % 5 == 2 => (sanitize(f.name), f.bytes.length.toLong)
    } ++ StaleManifest
    build(w, seed, sources, files, manifest)
  }
}
