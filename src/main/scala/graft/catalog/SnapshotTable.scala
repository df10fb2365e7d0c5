package graft.catalog

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{DataType, StructType}

/** Minimal snapshot-table layer — the Iceberg-semantics stand-in (no
  * Iceberg jars ship in this sandbox's offline cache; the abstraction
  * matches so the real thing can slot in):
  *
  *  - DATA is immutable: every write lands in a fresh `data/<uuid>` dir;
  *  - a SNAPSHOT is a numbered file `snapshots/v<N>` describing the table
  *    at that version; committing = atomically creating `snapshots/v<N+1>`
  *    (a hard link: create-if-absent);
  *  - OPTIMISTIC CONCURRENCY: two writers racing to v<N+1> — one link
  *    wins, the loser re-reads the new current snapshot and retries on top
  *    of it (Iceberg's commit loop);
  *  - READERS resolve a snapshot once and see an immutable view: a reader
  *    pinned to v3 is untouched by later commits (snapshot isolation), and
  *    passing an old version is time travel;
  *  - DELETE is copy-on-write: affected rows are filtered into a rewrite
  *    dir and the new snapshot swaps it in; untouched dirs carry over
  *    byte-identical.
  *
  * Snapshot file format: UTF-8 lines of tab-separated fields, in this order
  *
  * {{{
  * schema  <StructType json of the newest write>
  * summary <key>=<value>                         (zero or more)
  * dir     <name>  <rows>  <column>=<non-null>  ...   (one per data dir, oldest first)
  * }}}
  *
  * Keys, values and column names are URL-encoded, so no field holds a tab,
  * a newline or a bare `=`. The `dir` counts are Iceberg's per-file
  * `record_count` and null counts, taken in the job that wrote the dir; the
  * schema lets [[read]] skip footer inference; the summary is what the
  * committing writer chose to record for that version (Iceberg's snapshot
  * summary).
  */
object SnapshotTable {

  /** Rows of one data dir, counted in the job that wrote it: `rows` is
    * count(*), `nonNull` maps each top-level column to count(column).
    */
  final case class DirCounts(rows: Long, nonNull: Map[String, Long])

  private final case class Snapshot(schema: StructType, summary: Map[String, String],
                                    dirs: Seq[(String, DirCounts)])

  private def snapDir(table: String): Path = Paths.get(table, "snapshots")
  private def dataDir(table: String): Path = Paths.get(table, "data")

  /** Committed snapshot versions, ascending; empty for a fresh table. */
  def snapshots(table: String): Seq[Long] = {
    val d = snapDir(table)
    if (!Files.isDirectory(d)) Seq.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case n if n.startsWith("v") => n.drop(1).toLong }
        .toSeq.sorted
      finally s.close()
    }
  }

  private implicit class IterAsScala[A](it: java.util.Iterator[A]) {
    def asScala: Iterator[A] = new Iterator[A] {
      def hasNext: Boolean = it.hasNext
      def next(): A = it.next()
    }
  }

  def currentVersion(table: String): Option[Long] = snapshots(table).lastOption

  private def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  private def dec(s: String): String = URLDecoder.decode(s, UTF_8)

  /** `k=v` with both sides URL-encoded; splits at the one bare `=`. */
  private def pair(field: String): (String, String) = {
    val i = field.indexOf('=')
    dec(field.take(i)) -> dec(field.drop(i + 1))
  }

  private def render(s: Snapshot): String =
    (Seq(s"schema\t${s.schema.json}") ++
      s.summary.toSeq.sorted.map { case (k, v) => s"summary\t${enc(k)}=${enc(v)}" } ++
      s.dirs.map { case (name, c) =>
        (Seq("dir", name, c.rows.toString) ++
          c.nonNull.toSeq.sorted.map { case (k, n) => s"${enc(k)}=$n" }).mkString("\t")
      }).mkString("\n")

  private def load(table: String, version: Long): Snapshot = {
    val lines = Files.readString(snapDir(table).resolve(s"v$version")).split('\n').toSeq
      .filter(_.nonEmpty).map(_.split('\t').toSeq)
    val schema = lines.collectFirst { case Seq("schema", json) => DataType.fromJson(json) }
      .getOrElse(throw new IllegalStateException(s"snapshot v$version of $table has no schema"))
    Snapshot(schema.asInstanceOf[StructType],
      lines.collect { case Seq("summary", kv) => pair(kv) }.toMap,
      lines.collect { case "dir" +: name +: rows +: cols =>
        name -> DirCounts(rows.toLong, cols.map(pair).map { case (k, n) => k -> n.toLong }.toMap)
      })
  }

  /** Data dir ids (names under `data/`) visible at `version`, oldest first. */
  def snapshotDirs(table: String, version: Long): Seq[String] =
    load(table, version).dirs.map(_._1)

  /** Each data dir visible at `version` with its recorded counts, oldest
    * first — one read of the snapshot file, no Spark job.
    */
  def dirCounts(table: String, version: Long): Seq[(String, DirCounts)] =
    load(table, version).dirs

  /** The `key=value` summary the committing writer recorded for `version`
    * (empty when it recorded none).
    */
  def summary(table: String, version: Long): Map[String, String] =
    load(table, version).summary

  /** Read the table at a snapshot (default: latest). The resolved dir list
    * is immutable — concurrent commits cannot tear this read. The recorded
    * schema is passed to the reader, so resolving the frame runs no footer
    * job.
    */
  def read(spark: SparkSession, table: String, snapshot: Option[Long] = None): DataFrame = {
    val v = snapshot.orElse(currentVersion(table))
      .getOrElse(throw new IllegalStateException(s"no snapshots in $table"))
    val s = load(table, v)
    spark.read.schema(s.schema).parquet(s.dirs.map(d => dataDir(table).resolve(d._1).toString): _*)
  }

  /** Atomically publish `snapshot` as the one AFTER `expectedVersion` —
    * compare-and-set. POSIX rename REPLACES an existing target (so
    * Files.move can never be create-if-absent on Linux); the atomic
    * create-if-absent primitive here is a HARD LINK: link(2) fails with
    * EEXIST when the target exists, it never clobbers. Returns false when
    * a racing writer won `v<expected+1>`.
    *
    * `beforePublish` is a test seam: it runs between snapshot preparation
    * and the publish attempt, where a racing commit would interleave.
    */
  private def commitIf(table: String, expectedVersion: Long, snapshot: Snapshot,
                       beforePublish: () => Unit): Boolean = {
    Files.createDirectories(snapDir(table))
    val tmp = snapDir(table).resolve(s".tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    try {
      Files.writeString(tmp, render(snapshot))
      beforePublish()
      val target = snapDir(table).resolve(s"v${expectedVersion + 1}")
      try {
        Files.createLink(target, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        // some filesystems surface EEXIST as a bare FileSystemException:
        // treat it as a lost race ONLY when the target verifiably exists
        case _: java.nio.file.FileSystemException if Files.exists(target) => false
      }
    } finally {
      // once the link is published this method MUST report success: a
      // throwing tmp cleanup would make callers believe the commit failed
      // and roll back data a live snapshot references. A leaked tmp file
      // is benign; swept opportunistically, never at correctness cost.
      try Files.deleteIfExists(tmp)
      catch { case _: java.io.IOException => () }
    }
  }

  /** Optimistic-commit loop for COMMUTATIVE snapshot edits (append-style):
    * the next snapshot is recomputed from the CURRENT dirs on every
    * attempt, so a lost race retries on top of the winner's state. `next`
    * gets those dirs and the version the attempt would publish.
    */
  private def commit(table: String, next: (Seq[(String, DirCounts)], Long) => Snapshot,
                     maxRetries: Int = 10,
                     beforePublish: () => Unit = () => ()): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = currentVersion(table)
      val curDirs = cur.map(dirCounts(table, _)).getOrElse(Seq.empty)
      val expected = cur.getOrElse(0L)
      if (commitIf(table, expected, next(curDirs, expected + 1), beforePublish))
        return expected + 1
      attempt += 1
    }
    throw new IllegalStateException(s"commit contention: $maxRetries retries exhausted")
  }

  /** Writes `df` into a fresh data dir and counts its rows in the same job.
    * Observed metrics are gathered where the rows are written, in the
    * write's result stage, and Spark merges a result task's updates once
    * per partition: a retried or speculative attempt adds nothing, so the
    * counts are exact.
    */
  private def writeData(spark: SparkSession, table: String, df: DataFrame): (String, DirCounts) = {
    val name = java.util.UUID.randomUUID.toString.take(8)
    val cols = df.columns.toSeq
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("rows"), cols.indices.map(i =>
        count(col(s"`${cols(i).replace("`", "``")}`")).as(s"c$i")): _*)
      .write.mode(SaveMode.ErrorIfExists).parquet(dataDir(table).resolve(name).toString)
    val m = obs.get
    def n(k: String) = m(k).asInstanceOf[Long]
    (name, DirCounts(n("rows"), cols.indices.map(i => cols(i) -> n(s"c$i")).toMap))
  }

  /** Append: new data dir + snapshot = old dirs ++ new dir. Appends are
    * commutative, so a lost race safely re-applies onto the winner's
    * snapshot. `summary` is asked on every commit attempt, with the
    * version that attempt would publish and the new dir's counts, for the
    * summary to record; a writer that remembers the version it read from
    * can tell whether a racing commit got in first. `beforePublish` is the
    * race-test seam.
    */
  def append(spark: SparkSession, table: String, df: DataFrame,
             summary: (Long, DirCounts) => Map[String, String] = (_, _) => Map.empty,
             beforePublish: () => Unit = () => ()): Long = {
    val (name, counts) = writeData(spark, table, df)
    commit(table, (dirs, v) => Snapshot(df.schema, summary(v, counts), dirs :+ (name -> counts)),
      beforePublish = beforePublish)
  }

  /** Overwrite: snapshot = just the new dir (old data stays readable via
    * time travel). By CONTRACT overwrite replaces whatever is current at
    * commit time — like Iceberg's overwrite, a concurrent append's rows are
    * replaced along with everything else.
    */
  def overwrite(spark: SparkSession, table: String, df: DataFrame): Long = {
    val (name, counts) = writeData(spark, table, df)
    commit(table, (_, _) => Snapshot(df.schema, Map.empty, Seq(name -> counts)))
  }

  /** Copy-on-write DELETE WHERE: survivors are rewritten into one dir and
    * the snapshot swaps to it. NOT commutative — survivors were computed
    * from a specific snapshot, so the commit is compare-and-set on that
    * version: a racing commit forces a full RECOMPUTE from the new current
    * snapshot (Iceberg's conflict validation), never a silent lost update
    * of the racer's rows. (File-level pruning — rewriting only dirs that
    * contain matches — is the Iceberg refinement; semantics are identical.)
    */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column,
                  maxRetries: Int = 10,
                  beforePublish: () => Unit = () => ()): Long = {
    var attempt = 0
    while (attempt < maxRetries) {
      val base = currentVersion(table)
        .getOrElse(throw new IllegalStateException(s"no snapshots in $table"))
      val survivors = read(spark, table, Some(base)).filter(!predicate)
      val (name, counts) = writeData(spark, table, survivors)
      val committed =
        try commitIf(table, base, Snapshot(survivors.schema, Map.empty, Seq(name -> counts)),
          beforePublish)
        catch {
          case scala.util.control.NonFatal(e) =>
            // commitIf only throws when NOTHING was published (post-publish
            // cleanup errors are absorbed there), so reclaiming the rewrite
            // is safe; the cleanup itself must never mask the real error
            try deleteRecursively(dataDir(table).resolve(name))
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
      if (committed) return base + 1
      // lost the race: the rewrite computed from a stale snapshot is dead —
      // reclaim it, then recompute survivors from the new current snapshot
      deleteRecursively(dataDir(table).resolve(name))
      attempt += 1
    }
    throw new IllegalStateException(s"commit contention: $maxRetries retries exhausted")
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.foreach(deleteRecursively) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
