package graftbench

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.core.{Corpus, DocIn, Ids, SpanIn, Status}

/** Counter-based randomness: every draw is a pure function of
  * (seed, stream, index), so a generated row depends only on the seed and
  * its own index, never on which task or in which order it was produced.
  */
object Rng {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def at(seed: Long, stream: Long, i: Long): Long = mix(mix(mix(seed) ^ stream) + i)
  def below(seed: Long, stream: Long, i: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(at(seed, stream, i), n.toLong).toInt
  def rng(seed: Long, stream: Long, i: Long): java.util.SplittableRandom =
    new java.util.SplittableRandom(at(seed, stream, i))

  // stream ids: one per independent choice
  val TextS = 1L; val PickS = 2L; val IdA = 3L; val IdB = 4L; val FailS = 5L
  val FailKindS = 6L; val FilesS = 7L; val GroupsS = 8L; val EditS = 9L
}

/** sf0.1-shaped `documents` texts: 10..100 words over the testdata's
  * 30-word vocabulary, a pool of 5000 per seed.
  */
object Texts {
  val Vocab: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  val PoolSize = 5000

  def words(r: java.util.SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      j += 1
    }
    sb.toString
  }

  def text(seed: Long, idx: Long, minWords: Int = 10, maxWords: Int = 100): String = {
    val r = Rng.rng(seed, Rng.TextS, idx)
    words(r, minWords + r.nextInt(maxWords - minWords + 1))
  }

  def pool(seed: Long): Array[String] = Array.tabulate(PoolSize)(i => text(seed, i))
}

/** The interleaved corpus: `Corpus.synthesizeOne` over pooled texts, doc
  * ids from a seeded bijection (distinct, with the natural shares of the
  * %3/%13/%21/%27 synthesis rules). With `failShare` > 0, a seeded
  * 1/failShare of the documents carry one of the four failure markers
  * instead (the q_lineage_taxonomy mix; every resulting status is
  * non-terminal, so resume retries them).
  */
object Interleaved {
  private val IdMask = (1L << 40) - 1

  def docId(seed: Long, i: Long): Long =
    ((Rng.at(seed, Rng.IdA, 0) | 1L) * i + Rng.at(seed, Rng.IdB, 0)) & IdMask

  /** 0 = clean document, 1..4 = ENCRYPTED/POISON/MISSING/UNREADABLE. */
  def marker(seed: Long, i: Long, failShare: Int): Int =
    if (failShare <= 0 || Rng.below(seed, Rng.FailS, i, failShare) != 0) 0
    else 1 + Rng.below(seed, Rng.FailKindS, i, 4)

  val MarkerStatus: Array[String] =
    Array(Status.Success, Status.NotDecrypted, Status.NotParsed, Status.NotFound, Status.Unreadable)

  def doc(seed: Long, i: Long, pool: Array[String], failShare: Int): DocIn = {
    val id = docId(seed, i)
    val t = pool(Rng.below(seed, Rng.PickS, i, pool.length))
    marker(seed, i, failShare) match {
      case 0 => Corpus.synthesizeOne(id, t)
      case 1 => DocIn(id, Array(SpanIn("html", "ENCRYPTED:" + t, "", 0)))
      case 2 => DocIn(id, Array(SpanIn("text", "POISON:" + t, "", 0)))
      case 3 => DocIn(id, Array(SpanIn("media", "MISSING:blob-" + id, Ids.artifactRef(id), 0)))
      case _ => DocIn(id, Array(SpanIn("pdf", "UNREADABLE:" + id, "", 0)))
    }
  }

  /** Embedded children the synthesis rules give a clean document: one
    * media child for %3 ids, two (a nested chain) for %27 ids, and the
    * content-less child of %21 ids counts once.
    */
  def children(id: Long): Int =
    if (id % 3 != 0) 0 else if (id % 21 == 0) 1 else if (id % 27 == 0) 2 else 1

  /** Writes docs [from, from+n) as parquet, hash-partitioned on doc_id into
    * `parts` files and sorted within each, so the files are byte-identical
    * for a seed.
    */
  def write(spark: SparkSession, seed: Long, from: Long, n: Long, failShare: Int,
            parts: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(from, from + n, 1, parts).as[Long]
      .mapPartitions { it => val pool = Texts.pool(seed); it.map(doc(seed, _, pool, failShare)) }
      .repartition(parts, col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(path)
  }
}

/** Near-duplicate corpus: distinct base texts plus injected groups whose
  * sizes fall off as k^-1.5 from a seeded largest group, with a tail of
  * small groups. A group is an origin text of 100..150 words and members
  * that each append one seeded word (shingle Jaccard >= ~0.97 to the
  * origin), so LSH links every member; the largest group's within-group
  * pairs dominate the pair set, and the total stays far below
  * `connectedComponents`' 2^20-edge union-find bound.
  */
object NearDup {
  val BaseDocs = 5000

  def groupSizes(seed: Long): Array[Int] = {
    val r = Rng.rng(seed, Rng.GroupsS, 0)
    val largest = 300 + r.nextInt(201)
    val head = Iterator.from(1).map(k => (largest / math.pow(k, 1.5)).toInt).takeWhile(_ >= 3).toArray
    head ++ Array.fill(40)(3 + r.nextInt(3))
  }

  /** (doc_id, text, group) with group = -1 for base documents. */
  def rows(seed: Long): Array[(Long, String, Int)] = {
    val out = Array.newBuilder[(Long, String, Int)]
    (0 until BaseDocs).foreach(i => out += ((Interleaved.docId(seed, i), Texts.text(seed, i), -1)))
    var next = BaseDocs.toLong
    groupSizes(seed).zipWithIndex.foreach { case (size, g) =>
      val origin = Texts.text(seed, next, 100, 150)
      (0 until size).foreach { m =>
        val i = next + m
        val t = if (m == 0) origin
          else origin + " " + Texts.Vocab(Rng.below(seed, Rng.EditS, i, Texts.Vocab.length))
        out += ((Interleaved.docId(seed, i), t, g))
      }
      next += size
    }
    out.result()
  }

  /** Upper bound on the injected pairs: all within-group pairs. */
  def maxGroupPairs(seed: Long): Long = groupSizes(seed).map(s => s.toLong * (s - 1) / 2).sum

  /** The follow-up shard: near-duplicates of seeded group origins (group
    * >= 0; each must be flagged) and as many fresh texts (group -1).
    */
  def shard(seed: Long, size: Int = 400): Array[(Long, String, Int)] = {
    val sizes = groupSizes(seed)
    val starts = sizes.scanLeft(BaseDocs.toLong)(_ + _)
    val first = starts.last
    Array.tabulate(size) { k =>
      val i = first + k
      if (k % 2 == 0) {
        val g = Rng.below(seed, Rng.GroupsS, i, sizes.length)
        val origin = Texts.text(seed, starts(g), 100, 150)
        (Interleaved.docId(seed, i), origin + " " + Texts.Vocab(Rng.below(seed, Rng.EditS, i, Texts.Vocab.length)), g)
      } else (Interleaved.docId(seed, i), Texts.text(seed, i), -1)
    }
  }

  def write(spark: SparkSession, rows: Array[(Long, String, Int)], parts: Int, path: String): Unit = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "grp")
      .repartition(parts, col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(path)
  }
}

/** A directory of real container files made with the engine's own
  * builders. Entry counts are heavy-tailed (Pareto, alpha 1.1), so a few
  * files hold most of the entries and messages. Every file declares the
  * kind it should sniff as, the status extraction should give it and the
  * number of embedded children it holds.
  */
object Containers {
  final case class FileSpec(name: String, bytes: Array[Byte], kind: String,
                            status: String, children: Int)

  val Files = 360
  val Alpha = 1.1

  private def paretoCount(r: java.util.SplittableRandom, cap: Int): Int =
    math.min(cap, math.ceil(math.pow(1.0 - r.nextDouble(), -1.0 / Alpha)).toInt)

  private def textEntries(r: java.util.SplittableRandom, n: Int, prefix: String): Seq[(String, Array[Byte])] =
    (0 until n).map(j => (f"$prefix$j%04d.txt", Texts.words(r, 30 + r.nextInt(271)).getBytes(UTF_8)))

  private def png(r: java.util.SplittableRandom): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 4) img.setRGB(x, y, r.nextInt(1 << 24))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def pdfContent(text: String): String = {
    val w = text.split(" ")
    val sb = new StringBuilder("BT /F1 12 Tf ")
    w.grouped(5).zipWithIndex.foreach { case (line, li) =>
      sb.append(s"1 0 0 1 72 ${720 - li * 14} Tm (${line.mkString(" ")}) Tj ")
    }
    sb.append("ET").toString
  }

  private def flatePdf(text: String): Array[Byte] = {
    val comp = new String(graft.core.pdf.PdfMini.deflate(pdfContent(text).getBytes(ISO_8859_1)), ISO_8859_1)
    (s"%PDF-1.4\n1 0 obj << /Length ${comp.length} /Filter /FlateDecode >>\nstream\n$comp\n" +
      "endstream\nendobj\ntrailer\n%%EOF").getBytes(ISO_8859_1)
  }

  private def encryptedPdf(text: String, id: String): Array[Byte] = {
    val content = pdfContent(text)
    val body = s"%PDF-1.4\n1 0 obj << /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
    graft.core.pdf.PdfCrypt.encrypt(body, s"owner-$id", s"user-$id", 3, 128, s"id-$id")
      .getBytes(ISO_8859_1)
  }

  private def eml(r: java.util.SplittableRandom, atts: Seq[(String, Array[Byte])]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("From: alice@example.com\r\nTo: bob@example.com\r\n")
    sb.append(s"Subject: ${Texts.words(r, 4)}\r\nMIME-Version: 1.0\r\n")
    sb.append("Content-Type: multipart/mixed; boundary=\"BOUNDARY\"\r\n\r\n")
    sb.append("--BOUNDARY\r\nContent-Type: text/plain\r\n\r\n")
    sb.append(Texts.words(r, 20 + r.nextInt(100))).append("\r\n")
    atts.foreach { case (n, b) =>
      sb.append(s"--BOUNDARY\r\nContent-Disposition: attachment; filename=\"$n\"\r\n")
      sb.append("Content-Transfer-Encoding: base64\r\n\r\n")
      sb.append(java.util.Base64.getMimeEncoder.encodeToString(b)).append("\r\n")
    }
    sb.append("--BOUNDARY--\r\n").toString.getBytes(ISO_8859_1)
  }

  def file(seed: Long, i: Int): FileSpec = {
    import graft.sources.Archive
    val r = Rng.rng(seed, Rng.FilesS, i)
    val dir = s"d${i % 4}"
    val pick = r.nextInt(100)
    def n(cap: Int) = paretoCount(r, cap)
    if (pick < 22) { // zip, a quarter of them holding a nested zip
      val outer = textEntries(r, n(400), "e")
      if (r.nextInt(4) == 0) {
        val inner = textEntries(r, n(200), "inner/e")
        FileSpec(f"$dir/f$i%04d.zip", Archive.zipBytes(outer :+ ("nested/inner.zip" -> Archive.zipBytes(inner))),
          "zip", Status.Success, outer.size + 1 + inner.size)
      } else FileSpec(f"$dir/f$i%04d.zip", Archive.zipBytes(outer), "zip", Status.Success, outer.size)
    } else if (pick < 32) { // tar.gz: the gzip member is a tar container node
      val es = textEntries(r, n(300), "t")
      FileSpec(f"$dir/f$i%04d.tgz", Archive.gzipBytes(Archive.tarBytes(es), "bundle.tar"),
        "gzip", Status.Success, 1 + es.size)
    } else if (pick < 40) {
      val es = textEntries(r, 1, "g")
      FileSpec(f"$dir/f$i%04d.txt.gz", Archive.gzipBytes(es.head._2, "note.txt"), "gzip", Status.Success, 1)
    } else if (pick < 50) {
      val es = textEntries(r, n(300), "t")
      FileSpec(f"$dir/f$i%04d.tar", Archive.tarBytes(es), "tar", Status.Success, es.size)
    } else if (pick < 62) { // docx with embedded images
      val paras = (0 until 1 + r.nextInt(12)).map(_ => Texts.words(r, 5 + r.nextInt(40)))
      val media = (0 until n(30)).map(j => (s"word/media/image$j.png", png(r)))
      FileSpec(f"$dir/f$i%04d.docx", graft.core.office.Docx.buildMinimal(paras, media),
        "zip", Status.Success, media.size)
    } else if (pick < 70) { // pst: folders of messages, some with attachments
      import graft.core.office.Pst
      val folders = (0 until 1 + r.nextInt(3)).map { f =>
        Pst.BuildFolder(s"folder$f", (0 until n(60)).map { m =>
          val atts = if (r.nextInt(3) == 0) textEntries(r, 1, s"att$m-") else Nil
          Pst.BuildMsg(Texts.words(r, 4), Texts.words(r, 10 + r.nextInt(80)), from = "carol", atts = atts)
        })
      }
      val kids = folders.size + folders.map(f => f.messages.size + f.messages.map(_.atts.size).sum).sum
      FileSpec(f"$dir/f$i%04d.pst", Pst.build(folders), "pst", Status.Success, kids)
    } else if (pick < 80) {
      FileSpec(f"$dir/f$i%04d.pdf", flatePdf(Texts.words(r, 20 + r.nextInt(200))), "pdf_bytes", Status.Success, 0)
    } else if (pick < 85) { // user-password PDF: not decryptable, retried on resume
      FileSpec(f"$dir/f$i%04d.pdf", encryptedPdf(Texts.words(r, 20 + r.nextInt(100)), s"$seed-$i"),
        "pdf_bytes", Status.NotDecrypted, 0)
    } else {
      val atts = textEntries(r, n(40), "a")
      FileSpec(f"$dir/f$i%04d.eml", eml(r, atts), "eml", Status.Success, atts.size)
    }
  }

  def files(seed: Long): Seq[FileSpec] = (0 until Files).map(file(seed, _))

  def write(seed: Long, dir: java.io.File): Unit =
    files(seed).foreach { f =>
      val p = new java.io.File(dir, f.name)
      p.getParentFile.mkdirs()
      java.nio.file.Files.write(p.toPath, f.bytes)
    }
}
