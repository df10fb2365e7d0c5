package graft.core

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Deterministic interleaved text+media corpus synthesis.
  *
  * BASELINE.json's input is an Iceberg table of
  * `(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`. No such
  * table ships in the sandbox, so we synthesize it — deterministically, with
  * no randomness and no clock — from the driver-provided `documents` parquet
  * (doc_id, text). The synthesis is a pure function of (doc_id, text), fully
  * specified below, so the DuckDB oracle can independently recompute the
  * EXPECTED extraction output from `documents` alone (see graft.Oracle).
  *
  * Spec (W = text split on single spaces, m = |W|, i1 = m/3, i2 = 2m/3;
  * A = W[0,i1), B = W[i1,i2), C = W[i2,m)):
  *
  *  - offset 0, kind=html: A wrapped in a realistic boilerplate page
  *    (head/title/style, link-only nav, `<h1>title <id></h1><p>A</p>`
  *    content div, link-only footer, trailing script). Correct extraction
  *    must recover exactly `title <id>\nA`.
  *  - offset 1, kind=text: B verbatim (passthrough).
  *  - offset 2, kind=pdf: C's words placed on a grid (5 words/line,
  *    4 lines/page) and EMITTED IN SHUFFLED ORDER (sort key (j*13+7) mod 29);
  *    correct layout parsing must re-sort by (page,y,x) to recover C.
  *  - offset 3 (doc_id%3==0), kind=media: OCR-passthrough span with
  *    content-addressed media_ref; text = "ocr <id>", or "" when
  *    doc_id%21==0 (the content-less embed case), or a two-level nested
  *    container "chain:ocr <id>>sub <id>" when doc_id%27==0 (recursive
  *    embed explosion, driver-verified to depth 2).
  *  - next offset (doc_id%13==0), kind=bin: junk payload of an unsupported
  *    kind — must yield an empty span, never a failure.
  *
  * Precondition: corpus words match [a-z]+ (verified for the driver
  * tables). A corpus with '|', ';', '<' or '&' in words would need an
  * escaping payload codec — the synthesis (not the extractors) is what
  * assumes clean words.
  */
object Corpus {

  def splitPoints(m: Int): (Int, Int) = (m / 3, 2 * m / 3)

  def htmlWrap(docId: Long, a: String): String =
    s"""<html><head><title>doc $docId</title><style>.x{color:red}</style></head><body>""" +
      s"""<div id="nav"><ul><li><a href="/home">home</a></li><li><a href="/about">about</a></li><li><a href="/contact">contact</a></li></ul></div>""" +
      s"""<div id="main"><h1>title $docId</h1><p>$a</p></div>""" +
      s"""<div id="footer"><p><a href="/privacy">privacy</a> <a href="/terms">terms of use</a></p></div>""" +
      s"""<script>var x=1;</script></body></html>"""

  /** Positioned-word payload for C, emitted in a deterministic shuffled
    * order. Grid: word j sits at page j/20, line (j%20)/5, column j%5.
    */
  def pdfPayload(cWords: Array[String]): String = {
    val recs = cWords.iterator.zipWithIndex.map { case (w, j) =>
      val page = j / 20
      val y = (j % 20) / 5
      val x = j % 5
      ((j * 13 + 7) % 29, j, s"$x|$y|$page|$w")
    }.toArray
    java.util.Arrays.sort(recs, Ordering.by((t: (Int, Int, String)) => (t._1, t._2)))
    recs.iterator.map(_._3).mkString(";")
  }

  def synthesizeOne(docId: Long, text: String): DocIn = {
    val w = text.split(" ", -1) // string_split semantics (trailing empties kept)
    val (i1, i2) = splitPoints(w.length)
    val a = w.slice(0, i1).mkString(" ")
    val b = w.slice(i1, i2).mkString(" ")
    val c = w.slice(i2, w.length)
    val spans = Array.newBuilder[SpanIn]
    spans += SpanIn("html", htmlWrap(docId, a), "", 0)
    spans += SpanIn("text", b, "", 1)
    spans += SpanIn("pdf", pdfPayload(c), "", 2)
    var next = 3
    if (docId % 3 == 0) {
      // %21: content-less embed; %27: two-level nested container (chain);
      // else plain OCR passthrough
      val t =
        if (docId % 21 == 0) ""
        else if (docId % 27 == 0) s"chain:ocr $docId>sub $docId"
        else s"ocr $docId"
      spans += SpanIn("media", t, Ids.artifactRef(docId), next)
      next += 1
    }
    if (docId % 13 == 0) spans += SpanIn("bin", "\u0001binjunk" + docId, "", next)
    DocIn(docId, spans.result())
  }

  /** The synthesized spans table as a typed Dataset. Reads only (doc_id,
    * text) — column pruning reaches the parquet scan.
    */
  def spans(spark: SparkSession, sfDir: String): Dataset[DocIn] = {
    import spark.implicits._
    documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => synthesizeOne(id, t) })
  }

  /** Failure-taxonomy variant: docs whose doc_id%23 falls in 1..4 have their
    * spans replaced by a single failing span (encrypted / parser-crash /
    * missing-payload / io-error), everything else synthesizes normally. A
    * pure function of doc_id, so the DuckDB oracle recomputes the expected
    * lineage status per doc (q_lineage_taxonomy).
    */
  def spansWithFailures(spark: SparkSession, sfDir: String): Dataset[DocIn] = {
    import spark.implicits._
    documents(spark, sfDir)
      .select("doc_id", "text").as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        (id % 23) match {
          case 1 => DocIn(id, Array(SpanIn("html", "ENCRYPTED:" + t, "", 0)))
          case 2 => DocIn(id, Array(SpanIn("text", "POISON:" + t, "", 0)))
          case 3 => DocIn(id, Array(SpanIn("media", "MISSING:blob-" + id, Ids.artifactRef(id), 0)))
          case 4 => DocIn(id, Array(SpanIn("pdf", "UNREADABLE:" + id, "", 0)))
          case _ => synthesizeOne(id, t)
        }
      })
  }

  /** Bench variant: corpus replicated `factor`x with shifted doc_ids, so
    * throughput is measured on a meaningfully larger input while remaining
    * deterministic. Shift of 10^7 keeps replica ids disjoint from originals.
    *
    * The small (doc_id, text) pairs are repartitioned BEFORE synthesis, so
    * the expensive synthesize+extract work runs fully parallel in one
    * stage — standing in for a production table already bucketed on
    * doc_id, where the extraction job reads co-located and shuffles
    * nothing.
    */
  def spansReplicated(spark: SparkSession, sfDir: String, factor: Int,
                      partitions: Int = 32): Dataset[DocIn] = {
    import spark.implicits._
    val base = documents(spark, sfDir).select("doc_id", "text").as[(Long, String)]
    base
      .repartition(partitions, org.apache.spark.sql.functions.col("doc_id"))
      .as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        Iterator.range(0, factor)
          .map(k => synthesizeOne(id + k.toLong * 10000000L, t))
      })
  }

  /** Scan-parallelism guard (round 6, guide §2.5 input skew): the
    * testdata tables are single small parquet files with ONE row group —
    * a 1-task scan no split conf can widen — standing in for production
    * tables that arrive partitioned/bucketed. A pre-shuffle map over them
    * therefore runs on one core. When the scan yields fewer splits than
    * the cluster has slots, redistribute by the doc key once so the
    * downstream map runs at the parallelism the production layout would
    * give; at scale a real table has >= slots splits and the branch never
    * fires (no shuffle is added). The redistribution is deterministic
    * (hash of the key, no round-robin) and all query outputs are
    * partitioning-independent (oracle-exact at both the 4-core verify and
    * 32-core bench parallelism).
    *
    * Applied SELECTIVELY via [[documentsDistributed]], not as the
    * [[documents]] default: measured on alternating in-JVM A/B pairs, the
    * extra exchange costs a light aggregation query ~0.28 s (chained
    * exchange + AQE replanning) and a light map-only query ~0.05 s, while
    * heavy per-row maps (fixture synthesis, real parsing, shingling,
    * signatures — >= ~0.5 ms/row) win 2-4x. Queries whose map work
    * dominates opt in; scan-bound and shuffle-dominated queries read the
    * raw layout. The split count is probed on every call (file listing
    * at planning time, no Spark job).
    */
  private def parallelized(spark: SparkSession, path: String, key: String): DataFrame = {
    val df = spark.read.parquet(path)
    val slots = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < slots)
      df.repartition(slots, org.apache.spark.sql.functions.col(key))
    else df
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** [[documents]] behind the scan-parallelism guard — for queries whose
    * per-row map work (not the scan or the shuffles) dominates.
    */
  def documentsDistributed(spark: SparkSession, sfDir: String): DataFrame =
    parallelized(spark, s"$sfDir/documents.parquet", "doc_id")

  def embeddings(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/embeddings.parquet")
  def events(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/events.parquet")
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")
}
