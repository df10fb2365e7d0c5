package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import org.apache.spark.util.collection.OpenHashSet
import graft.catalog.SnapshotTable
import graft.core._
import graft.core.route.Extract

/** The production extraction job — SURVEY §3.1's Spark equivalent:
  *
  * read spans table -> anti-join lineage (exact resume) -> salted
  * repartition on doc_id (skew handling) -> mapPartitions(extract) ->
  * append one combined (doc, lineage) data dir and publish a snapshot.
  *
  * Scale design (the 100 TB story):
  *  - ONE shuffle in the whole job (the salted repartition), moving only
  *    rows that still need processing: the resume anti-join runs first,
  *    against the narrow terminal-id projection of the lineage table;
  *  - ONE extraction pass: doc rows and lineage rows are emitted together
  *    from the same mapPartitions and written once as a combined table
  *    (two nullable structs); `extracted` and `lineage` are then cheap
  *    columnar re-projections (on Iceberg they would simply be views);
  *  - skew: a 10-GB-span document can't be split by Spark, so rows are
  *    salted by a cheap size estimate — oversized docs spread across the
  *    salt domain, the reference's PST folder fan-out
  *    (`Extractor.java:142-146`) lifted to partition level;
  *  - lineage rows carry per-partition docs/sec and bytes/sec (north rule)
  *    from monotonic nanoTime deltas inside the partition;
  *  - commit: the output dir is a [[graft.catalog.SnapshotTable]]; the
  *    snapshot publish makes a run visible, and per-partition checkpoints
  *    are a read-time view of the lineage that landed;
  *  - resume is idempotent: re-running after a partial failure re-extracts
  *    only docs without terminal lineage (Reporter.skip semantics,
  *    `Reporter.java:120-135`).
  */
object ExtractJob {

  final case class JobConfig(
      partitions: Int = 32,
      oversizedChars: Int = 1 << 20, // salting threshold on total span chars
      extract: Extract.Config = Extract.DefaultConfig,
      /** false when the input is already bucketed on doc_id (the production
        * Iceberg layout): extraction then runs IN the scan stage with no
        * shuffle at all — the scale-correct plan for an embarrassingly
        * parallel map. false thereby also asserts that rows with equal
        * doc_ids share an input partition, which `run`'s returned counts
        * rely on. true re-balances unbucketed/skewed inputs via the salted
        * repartition.
        */
      shuffleInput: Boolean = true,
      /** Per-document parse deadline (reference watchdog,
        * `Extractor.java:620-648`); 0 disables. A doc over deadline yields a
        * FAILURE_TIMEOUT lineage row — terminal, so resume skips it instead
        * of re-pinning a task forever.
        */
      docTimeoutMillis: Long = 0L
  )

  /** Exception -> lineage status, per the reference's taxonomy
    * (`Extractor.java:785-826`). VM errors never reach here (rethrown as
    * the FATAL escalation path).
    */
  def classify(e: Throwable): String = e match {
    case _: graft.core.ExtractTimeout       => Status.Timeout
    case _: graft.core.PayloadMissing       => Status.NotFound
    case _: java.io.FileNotFoundException   => Status.NotFound
    case _: graft.core.PayloadUnreadable    => Status.Unreadable
    case _: java.io.IOException             => Status.Unreadable
    case _: graft.core.DecryptFailure       => Status.NotDecrypted
    case _: graft.core.ParseFailure         => Status.NotParsed
    case _: RuntimeException                => Status.NotParsed // parser crash surface
    case _                                  => Status.Unknown
  }

  private def prepare(input: Dataset[DocIn], cfg: JobConfig): Dataset[DocIn] =
    if (cfg.shuffleInput) saltedRepartition(input, cfg) else input

  /** Resume filter: drop docs whose lineage status is terminal. The lineage
    * side is projected to ids before the join so the build side stays
    * narrow (and broadcastable when the terminal set is small).
    */
  def resume(input: Dataset[DocIn], lineage: DataFrame): Dataset[DocIn] = {
    val spark = input.sparkSession
    import spark.implicits._
    val terminal = lineage
      .filter(col("status").isin(Status.terminal.toSeq: _*))
      .select(col("doc_id").cast("long").as("doc_id"))
    input.join(terminal, Seq("doc_id"), "left_anti").as[DocIn]
  }

  /** Salted repartition: normal docs shuffle on doc_id; oversized docs are
    * additionally spread over a salt domain so one hot doc can't pin a
    * partition (AQE's skew handling only helps joins; this is the map-side
    * equivalent).
    */
  def saltedRepartition(input: Dataset[DocIn], cfg: JobConfig): Dataset[DocIn] = {
    val spark = input.sparkSession
    import spark.implicits._
    input
      .withColumn("_sz", expr("aggregate(spans, 0L, (acc, s) -> acc + length(s.text))"))
      .withColumn("_salt",
        // deterministic (pure function of doc_id): a position-dependent salt
        // would re-route rows across task retries and duplicate/lose docs
        when(col("_sz") > cfg.oversizedChars,
          pmod(hash(col("doc_id"), lit("oversized-salt")), lit(cfg.partitions)))
          .otherwise(lit(0)))
      .repartition(cfg.partitions, col("doc_id"), col("_salt"))
      .drop("_sz", "_salt").as[DocIn]
  }

  /** The core typed transformation, ONE pass: per-partition batched
    * extraction emitting doc rows (Some(doc), None) and one lineage row
    * (None, Some(lineage)) per input document. A poison row yields a
    * classified failure lineage row, never a task failure (error taxonomy,
    * `Extractor.java:785-826`); VM errors escape for Spark's retry/
    * blacklist machinery (`ExtractionErrors` semantics).
    */
  def extractPartitions(input: Dataset[DocIn], cfg: JobConfig)
  : Dataset[(Option[DocOut], Option[LineageRow])] = extract(input, cfg, None)

  /** [[extractPartitions]], and when `mayRepeat` is given each task also
    * adds 1 to it for every doc whose id could appear in more than one input
    * row of the run without the task noticing otherwise: a doc_id the task
    * has already seen (an O(docs per task) primitive id set), and, under
    * `shuffleInput`, an oversized doc, which the salt may route away from a
    * same-id copy that is not oversized.
    */
  private def extract(input: Dataset[DocIn], cfg: JobConfig, mayRepeat: Option[LongAccumulator])
  : Dataset[(Option[DocOut], Option[LineageRow])] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.mapPartitions { it =>
      val pid = TaskContext.getPartitionId()
      val t0 = System.nanoTime()
      var docsDone = 0L
      var bytesDone = 0L
      val seen = new OpenHashSet[Long]
      it.flatMap { doc =>
        val bytesIn =
          if (doc.spans == null) 0L
          else doc.spans.iterator
            .map(s => if (s.text == null) 0L else s.text.length.toLong).sum
        mayRepeat.foreach { acc =>
          if (seen.contains(doc.doc_id) || (cfg.shuffleInput && bytesIn > cfg.oversizedChars))
            acc.add(1L)
          else seen.add(doc.doc_id)
        }
        val nIn = if (doc.spans == null) 0 else doc.spans.size
        val deadline =
          if (cfg.docTimeoutMillis > 0) System.nanoTime() + cfg.docTimeoutMillis * 1000000L
          else Long.MaxValue
        val res =
          try Right(Extract.explodeCounted(doc, cfg.extract, deadline))
          catch {
            // FATAL escalation: VM errors escape to Spark's retry/blacklist
            case e: VirtualMachineError => throw e
            case e: Exception => Left(e)
          }
        docsDone += 1
        bytesDone += bytesIn
        val elapsed = math.max(1e-9, (System.nanoTime() - t0) / 1e9)
        res match {
          case Right((outs, skipped)) =>
            // taxonomy: undecryptable content is NOT_DECRYPTED (retryable,
            // non-terminal), everything extracted is SUCCESS
            val status = outs.headOption.map(_.no_content_reason) match {
              case Some(Reason.Encrypted) => Status.NotDecrypted
              case _ => Status.Success
            }
            val row = LineageRow(doc.doc_id, pid, status,
              if (skipped > 0) s"embeds_skipped=$skipped" else "",
              nIn, outs.iterator.map(_.spans.length).sum, bytesIn,
              docsDone / elapsed, bytesDone / elapsed)
            // doc rows are emitted ONLY for SUCCESS: a retryable status must
            // not append output that a later retry would append again
            val docRows =
              if (status == Status.Success)
                outs.iterator.map(o => (Option(o), Option.empty[LineageRow]))
              else Iterator.empty
            docRows ++ Iterator.single((Option.empty[DocOut], Option(row)))
          case Left(e) =>
            val row = LineageRow(doc.doc_id, pid, classify(e),
              String.valueOf(e.getMessage), nIn, 0, bytesIn,
              docsDone / elapsed, bytesDone / elapsed)
            Iterator.single((Option.empty[DocOut], Option(row)))
        }
      }
    }
  }

  // ------------------------------------------------ incremental commit ----
  //
  // `outDir` is a [[SnapshotTable]] (the Iceberg stand-in): each run writes
  // ONE combined (doc, lineage) data dir `data/<id>` and publishes snapshot
  // `snapshots/v<N>` listing every committed dir. The hard-link publish is
  // the commit point: a dir written before a crash is never listed, so no
  // reader sees it, and a writer that loses the race to v<N> re-publishes
  // on top of the winner. Run N+1 writes O(run N+1) bytes and never
  // rewrites history. `extracted` and `lineage` are read-time views of the
  // current snapshot (on Iceberg: actual views / MERGE). extracted dedupes
  // on doc_id: doc rows are emitted only for SUCCESS, which is terminal, so
  // a resumed run never re-extracts a committed doc; a doc id recurs only
  // when the input repeats an id, when `lineagePrev` is not the output's
  // own lineage, or when racing writers extract overlapping ids (the rows
  // are bit-identical by determinism). lineage keeps every attempt (it is
  // a log — retries are part of the record).

  /** Data dir ids of the current snapshot, oldest first — one read of the
    * snapshot file, no Spark job.
    */
  def committedRuns(spark: SparkSession, outDir: String): Seq[String] =
    SnapshotTable.currentVersion(outDir).map(SnapshotTable.snapshotDirs(outDir, _)).getOrElse(Seq.empty)

  /** The combined (doc, lineage) rows of the current snapshot; None for a
    * dir no run has committed to.
    */
  def readCombined(spark: SparkSession, outDir: String): Option[DataFrame] =
    SnapshotTable.currentVersion(outDir).map(v => SnapshotTable.read(spark, outDir, Some(v)))

  private def extractedOf(combined: DataFrame): DataFrame =
    combined.filter(col("doc").isNotNull).select("doc.*").dropDuplicates("doc_id")

  private def lineageOf(combined: DataFrame): DataFrame =
    combined.filter(col("lineage").isNotNull).select("lineage.*")

  /** `extracted` as a read-time view: committed docs, dedup-on-read. */
  def readExtracted(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(extractedOf)

  /** `lineage` as a read-time view: the full attempt log. */
  def readLineage(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(lineageOf)

  /** Per-partition checkpoints `(run_id, partition_id, n_docs, n_spans)` of
    * committed runs, derived at read time from the lineage that landed; the
    * run id is the data dir id [[committedRuns]] lists (the dir holding the
    * row's parquet file).
    */
  def readCheckpoints(spark: SparkSession, outDir: String): Option[DataFrame] =
    readCombined(spark, outDir).map(_.filter(col("lineage").isNotNull)
      .groupBy(regexp_extract(col("_metadata.file_path"), "([^/]+)/[^/]+$", 1).as("run_id"),
        col("lineage.partition_id").as("partition_id"))
      .agg(count(lit(1)).as("n_docs"), sum("lineage.n_spans_out").as("n_spans")))

  /** End-to-end incremental run (commit protocol above). Resumes against
    * `lineagePrev` when given, else against the lineage view of the
    * snapshot current when the run starts (its base) — the Reporter.skip
    * semantics (`Reporter.java:120-135`). Returns (total docs in the
    * extracted view, total lineage rows) across all runs in the snapshot
    * this run published.
    *
    * Both totals are read from that snapshot's file, so on the normal path
    * no Spark job runs after the write:
    *  - lineage is the sum of the per-dir `lineage` counts. The view keeps
    *    every row, so the sum is always exact.
    *  - extracted is the snapshot's `extracted` summary: the base's total
    *    plus this dir's doc rows. The sum equals the deduped view when the
    *    run adds no doc id the base holds and none twice. Doc rows are
    *    emitted only for SUCCESS, which is terminal, so a run resumed
    *    against its own base's lineage re-extracts no committed doc. Distinct
    *    input ids give distinct doc ids (root ids hash the input id, embed
    *    ids their parent's id and ordinal), so inside the run an id recurs
    *    only when the input repeats a doc_id. Equal ids share a task — the
    *    salt is a function of doc_id for all but oversized docs, and
    *    `shuffleInput = false` asserts doc_id-bucketed input — where the
    *    task's id set sees the repeat.
    *
    * So the summary is recorded only when the commit lands directly on the
    * base, no `lineagePrev` was given, and no task saw a possible repeat
    * (see [[extract]]). Otherwise extracted is counted from the view, and
    * the next clean run records it again, from that count of its base.
    */
  def run(spark: SparkSession, input: Dataset[DocIn], lineagePrev: Option[DataFrame],
          outDir: String, cfg: JobConfig = JobConfig()): (Long, Long) = {
    val base = SnapshotTable.currentVersion(outDir)
    val lineageView = lineagePrev.orElse(base.map(v => lineageOf(SnapshotTable.read(spark, outDir, Some(v)))))
    val pending = lineageView.map(resume(input, _)).getOrElse(input)
    val mayRepeat = spark.sparkContext.longAccumulator
    val combined = extract(prepare(pending, cfg), cfg, Some(mayRepeat)).toDF("doc", "lineage")
    val published = SnapshotTable.append(spark, outDir, combined, summary = (v, dir) =>
      if (v == base.getOrElse(0L) + 1 && lineagePrev.isEmpty && mayRepeat.isZero)
        Map(ExtractedKey -> (extractedAt(spark, outDir, base) + dir.nonNull("doc")).toString)
      else Map.empty)
    val lineage = SnapshotTable.dirCounts(outDir, published).map(_._2.nonNull.getOrElse("lineage", 0L)).sum
    (extractedAt(spark, outDir, Some(published)), lineage)
  }

  private val ExtractedKey = "extracted"

  /** Docs in the extracted view at `version` (0 before the first commit):
    * the snapshot's recorded summary, else a count of the view.
    */
  private def extractedAt(spark: SparkSession, outDir: String, version: Option[Long]): Long =
    version.fold(0L)(v => SnapshotTable.summary(outDir, v).get(ExtractedKey).map(_.toLong)
      .getOrElse(extractedOf(SnapshotTable.read(spark, outDir, Some(v))).count()))

  /** Throughput-only variant for the bench harness: same plan shape, no
    * intermediate writes — extraction forced by a count over the combined
    * rows. The filter is COLUMNAR (lineage.isNotNull on the encoded row),
    * so the count never re-deserializes the DocOut objects it just encoded —
    * a typed `.filter(_._2.isDefined)` would decode every row a second time
    * and overstate pipeline cost.
    */
  def runCount(spark: SparkSession, input: Dataset[DocIn], cfg: JobConfig = JobConfig()): Long =
    extractPartitions(prepare(input, cfg), cfg)
      .toDF("doc", "lineage")
      .filter(col("lineage").isNotNull).count()
}
