package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{HashParams, Ids}

/** Deduplication operators for the training-data pipeline.
  *
  * Algorithms: MinHash (Broder, "On the resemblance and containment of
  * documents", 1997) with banded LSH; SimHash (Charikar, "Similarity
  * estimation techniques from rounding algorithms", STOC 2002); shingled
  * Jaccard; winnowing fingerprints live in TextStats (Schleimer/Wilkerson/
  * Aiken, SIGMOD 2003).
  *
  * Scale notes (100 TB target):
  *  - exact dedup is a single hash-shuffle on the content hash — the hash is
  *    computed BEFORE the shuffle so only (hash, id) moves, never the text;
  *  - MinHash+LSH shuffles (bucket_key, doc_id) pairs only: candidate
  *    generation is a self-equi-join on the bucket key, which AQE
  *    skew-splits if a bucket is hot;
  *  - SimHash emits one 64-bit signature per doc (map-only), pairs via a
  *    banded equi-join, never an all-pairs product;
  *  - n-gram Jaccard is the only quadratic-ish op and is gated on an
  *    explicit probe set (sampled ids), keeping the join |probes| x |docs|.
  */
object Dedup {

  /** TEST FIXTURE (not operator semantics): documents plus injected
    * duplicates (doc_id<100 copied, shifted by 1e6) so dedup queries have
    * true positives to find. Deterministic. Callers (the query layer / specs)
    * apply this BEFORE an operator — the operators themselves dedupe exactly
    * the frame they are given.
    */
  def withInjectedDups(docs: DataFrame): DataFrame = {
    val dups = docs.filter(col("doc_id") < 100)
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
    docs.unionByName(dups)
  }

  /** Exact dedup by content hash (reference duplicate suppression,
    * `TikaDocument.java:310-316`, generalized to hash-groupBy).
    */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(md5(col("text")).as("content_hash"), col("doc_id"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("keeper_id"))

  /** MinHash signature of one text: 3-word shingles -> md5-derived 32-bit
    * codes -> NumMinHash universal hashes, min over shingles.
    */
  def minhashSig(text: String): Array[Long] = {
    val w = text.split(" ", -1) // string_split semantics
    val sig = Array.fill(HashParams.NumMinHash)(Long.MaxValue)
    val nSh = math.max(1, w.length - 2)
    var i = 0
    while (i < nSh) {
      val shingle =
        if (w.length < 3) text
        else w(i) + " " + w(i + 1) + " " + w(i + 2)
      val x = Ids.code32(shingle)
      var h = 0
      while (h < HashParams.NumMinHash) {
        val v = HashParams.minhash(h, x)
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys for a signature: bands of BandSize rows, key =
    * "band:v,v,v".
    */
  def bandKeys(sig: Array[Long]): Seq[String] = {
    val nBands = HashParams.NumMinHash / HashParams.BandSize
    (0 until nBands).map { b =>
      val vs = (0 until HashParams.BandSize)
        .map(r => sig(b * HashParams.BandSize + r)).mkString(",")
      s"$b:$vs"
    }
  }

  /** MinHash+LSH near-duplicate candidate pairs (a<b, distinct), with a
    * deterministic candidate cap: near-empty/templated documents share
    * entire signatures, and an uncapped hot band bucket goes quadratic
    * (|bucket|^2 pairs). Capped-out members (lowest doc_ids kept — plan-
    * and retry-stable) are dropped and observable via [[hotBuckets]],
    * never silently.
    *
    * Round-6 shape (guide §2.3/§2.4 — shuffle fewer bytes, dedup before
    * the quadratic stage): documents collapse to DISTINCT signatures
    * before banding. Exact signature duplicates — the dominant web-corpus
    * case — previously entered every one of the nBands band buckets and
    * generated the same member-quadratic pair set nBands times, all of it
    * shuffled through the bucket join and then discarded by `distinct()`.
    * Now one representative (min doc_id) per distinct signature is banded
    * and bucket-joined (pair volume O(distinct sigs^2) per bucket), rep
    * pairs are deduplicated at rep level (each doc pair derives from
    * exactly one rep pair, so the member expansion needs NO quadratic
    * distinct), and within-group pairs expand directly from the bounded
    * membership array. The emitted pair SET in the uncapped regime is
    * IDENTICAL to the member-level banding (oracle-checked).
    *
    * The cap (still the [[graft.functions.BoundedMinIds]] bounded-heap
    * aggregate — no Window, no full-bucket sort on one task) now binds at
    * two places: members per signature group (bounding the within-group
    * expansion at C(cap,2)) and representatives per band bucket (bounding
    * the bucket join). When no group and no bucket reaches the cap this
    * is exactly the old per-bucket-members semantics.
    */
  def minhashPairs(spark: SparkSession, docs: DataFrame,
                   bucketCap: Int = 10000): DataFrame = {
    import spark.implicits._
    // one row per doc: full signature + its band keys, computed ONCE
    // map-side (everything downstream reuses this stage's one exchange)
    val sigDocs = docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val sig = minhashSig(t)
        (sig.mkString(","), bandKeys(sig), id)
      }.toDF("sig", "bands", "doc_id")
    // distinct signatures: min-id representative + capped sorted membership
    val groups = sigDocs.groupBy("sig").agg(
      min("doc_id").as("rep"),
      graft.functions.BoundedMinIds.minIds(bucketCap)(col("doc_id")).as("kept"),
      first("bands").as("bands")) // bands are a pure function of sig
    // within-group pairs: all pairs among the (ascending) kept members
    val within = groups.filter(size(col("kept")) >= 2)
      .select(explode(expr(
        "flatten(transform(kept, (x, i) -> " +
          "transform(slice(kept, i + 2, size(kept) - i - 1), " +
          "y -> struct(x AS a, y AS b))))")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // cross-group candidates at REPRESENTATIVE level only
    val capped = groups.select(col("rep"), explode(col("bands")).as("bucket"))
      .groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(bucketCap)(col("rep")).as("reps"))
      .select(col("bucket"), explode(col("reps")).as("rep"))
    val repPairs = capped.as("l").join(capped.as("r"),
        col("l.bucket") === col("r.bucket") && col("l.rep") < col("r.rep"))
      .select(col("l.rep").as("ra"), col("r.rep").as("rb"))
      .distinct()
    val members = groups.select(col("rep"), explode(col("kept")).as("m"))
    val cross = repPairs
      .join(members.select(col("rep").as("ra"), col("m").as("ma")), "ra")
      .join(members.select(col("rep").as("rb"), col("m").as("mb")), "rb")
      .select(least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"))
    within.unionByName(cross)
  }

  /** Candidate-verification stage of the dedup pipeline: LSH candidates are
    * cheap but approximate; this re-joins each candidate pair to its texts
    * and keeps pairs within `maxDist` edit distance.
    *
    * Scale notes: the pair set is NOT broadcast-hinted — minhashPairs bounds
    * pairs per bucket at cap^2/2, so a single at-cap bucket can emit ~5e7
    * pairs, far past broadcast range; AQE broadcasts while it actually fits
    * and shuffles when it doesn't. Before the O(n*m) DP runs, two cheap
    * prefilters eliminate most pairs: `abs(len(ta)-len(tb)) <= maxDist`
    * (a length gap is a lower bound on edit distance) and the THRESHOLDED
    * levenshtein (Spark 3.5+ 3-arg form) that abandons the DP as soon as
    * the running minimum exceeds maxDist — both return the exact distance
    * for every surviving pair, so the stage stays oracle-checkable.
    */
  def editVerify(docs: DataFrame, candidates: DataFrame, maxDist: Int): DataFrame =
    docs.select(col("doc_id").as("a"), col("text").as("ta"))
      .join(candidates, "a")
      .join(docs.select(col("doc_id").as("b"), col("text").as("tb")), "b")
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), maxDist))
      .filter(col("dist") >= 0) // thresholded form returns -1 past maxDist
      .select("a", "b", "dist")

  /** (bucket, doc_id) band-bucket membership rows. */
  def minhashBuckets(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) => bandKeys(minhashSig(t)).map(k => (k, id)) }
      .toDF("bucket", "doc_id")
  }

  /** Incremental (cross-shard) near-dup screening — the shape a GROWING
    * corpus actually runs: a NEW shard is checked against the already-
    * committed corpus without ever re-pairing the committed corpus with
    * itself. Each incoming doc that shares any LSH band bucket with a
    * committed doc is flagged with `dup_of` = the smallest matching
    * committed id (retry-stable); unflagged docs are admitted. The
    * committed side is per-bucket CAPPED with the same bounded-heap
    * aggregate [[minhashPairs]] uses (a hot templated bucket must not
    * fan a single incoming doc out |bucket|-fold); the incoming side is
    * never capped — every new doc gets screened. At scale the committed
    * side's band keys are a persisted index (bucket, doc_id) table
    * bucketed on the key, so only the new shard's signatures are
    * computed per run and the join is index-shaped, not corpus x corpus.
    */
  def incrementalFlags(spark: SparkSession, committed: DataFrame, incoming: DataFrame,
                       bucketCap: Int = 10000): DataFrame = {
    val eCap = minhashBuckets(spark, committed).groupBy("bucket")
      .agg(graft.functions.BoundedMinIds.minIds(bucketCap)(col("doc_id")).as("ids"))
      .select(col("bucket"), explode(col("ids")).as("eid"))
    minhashBuckets(spark, incoming)
      .join(eCap, "bucket")
      .groupBy("doc_id").agg(min("eid").as("dup_of"))
  }

  /** The no-silent-caps record for [[minhashPairs]]: one row per place
    * its cap actually drops something, mirroring
    * [[graft.multimodal.Phash.hotBuckets]]. The cap binds at two levels,
    * and `n_members` counts the unit it binds on there:
    *  - `level = "group"`, `key` = a distinct signature: its members
    *    beyond the cap lose all their pairs;
    *  - `level = "bucket"`, `key` = a band key: its distinct-signature
    *    representatives beyond the cap lose the cross-group candidates
    *    this bucket would have proposed.
    * `n_kept` is the cap. Only over-cap rows are emitted, so an empty
    * frame means nothing was dropped — however many members share a
    * bucket through a few signatures.
    */
  def hotBuckets(spark: SparkSession, docs: DataFrame, bucketCap: Int): DataFrame = {
    import spark.implicits._
    val groups = docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) =>
        val sig = minhashSig(t)
        (sig.mkString(","), bandKeys(sig), id)
      }.toDF("sig", "bands", "doc_id")
      .groupBy("sig").agg(count(lit(1)).as("n_members"), first("bands").as("bands"))
    val bySignature = groups.select(lit("group").as("level"), col("sig").as("key"), col("n_members"))
    val byBucket = groups.select(explode(col("bands")).as("key"))
      .groupBy("key").agg(count(lit(1)).as("n_members"))
      .select(lit("bucket").as("level"), col("key"), col("n_members"))
    bySignature.unionByName(byBucket)
      .filter(col("n_members") > bucketCap)
      .withColumn("n_kept", lit(bucketCap.toLong))
  }

  /** SimHash signatures (map-only; one row per doc). */
  def simhash(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, graft.core.text.TextStats.simhash32(t)) }
      .toDF("doc_id", "simhash")
  }

  /** Distinct (doc_id, shingle) pairs — 2-word shingles, string_split
    * semantics.
    */
  def shingled(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .flatMap { case (id, t) =>
        val w = t.split(" ", -1) // string_split semantics
        val set = scala.collection.mutable.HashSet.empty[String]
        var i = 0
        while (i < w.length - 1) { set += (w(i) + " " + w(i + 1)); i += 1 }
        set.iterator.map(s => (id, s))
      }.toDF("doc_id", "shingle")
  }

  /** n-gram (2-word shingle) Jaccard similarity, probe-gated and
    * DOCUMENT-FREQUENCY-CAPPED: shingles appearing in more than `dfCap`
    * documents are dropped from the profile (sizes AND intersection) before
    * the candidate join — the standard hot-key guard. Without it, one
    * ubiquitous shingle ("of the") makes its join-key fan-out
    * |probes_with_it| x |docs_with_it|, near-cartesian at corpus scale.
    * Dropped shingles are REPORTED by [[hotShingles]] (no silent caps).
    *
    * Emits (a=probe, b, inter, uni) where 5*inter >= uni (Jaccard >= 0.2)
    * over the rare-shingle profile, a != b. Integer-only output.
    *
    * `probe` must be a DOCUMENT-level predicate over the columns of `docs`
    * (e.g. on `doc_id`): it is applied to `docs` before shingling, so it
    * cannot reference `shingle` or any other column this operator derives.
    */
  def ngramJaccard(spark: SparkSession, docs: DataFrame,
                   dfCap: Long = Long.MaxValue,
                   probe: org.apache.spark.sql.Column = col("doc_id") % 50 === 0): DataFrame = {
    val all = shingled(spark, docs)
    // the HOT set (df > cap) is tiny by definition — a handful of ubiquitous
    // shingles — so the drop is a broadcast anti-join: the big side never
    // shuffles on the hot key at all. df itself is a partial-agg groupBy.
    val hot = all.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("shingle")
    val rare = all.join(broadcast(hot), Seq("shingle"), "left_anti")
    val sizes = rare.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // the probe side shingles only the PROBE DOCUMENTS (round 6): the
    // probe predicate is doc-level and shingle sets are doc-local, so
    // filtering docs BEFORE the explode is row-identical to filtering the
    // exploded stream after — and skips re-evaluating the corpus-wide
    // shingle map (an opaque typed flatMap Catalyst cannot push the
    // filter below) just to discard ~98% of it.
    val probes = shingled(spark, docs.filter(probe))
      .join(broadcast(hot), Seq("shingle"), "left_anti")
      .withColumnRenamed("doc_id", "a")
    val inter = probes.join(rare.withColumnRenamed("doc_id", "b"), "shingle")
      .filter(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    // sizes is one row per DOCUMENT — O(corpus), the side that must never
    // carry a broadcast hint (unbroadcastable at 1e12 docs). The bounded
    // side here is `inter` (|probes| x neighbors); no hint is needed at
    // all: AQE broadcasts the small side while it fits and falls back to a
    // shuffle join when it doesn't.
    inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("uni", col("sza") + col("szb") - col("inter"))
      .filter(col("inter") * 5 >= col("uni"))
      .select("a", "b", "inter", "uni")
  }

  /** Benchmark decontamination (standard training-data hygiene, GPT-3-style
    * n-gram overlap): flag corpus docs sharing at least `minShared` distinct
    * shingles with the UNION of benchmark shingles. The benchmark shingle
    * set is small by definition — it broadcasts, and the corpus side never
    * shuffles: flag computation is a map-side semi-join + partial-agg count.
    */
  def decontaminate(spark: SparkSession, corpus: DataFrame, benchmark: DataFrame,
                    minShared: Long): DataFrame =
    shingled(spark, corpus)
      .join(broadcast(shingled(spark, benchmark).select("shingle").distinct()), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)

  /** Bloom-prefiltered decontamination — [[decontaminate]]'s web-scale
    * variant (Bloom 1970; the standard contamination-screen shape at
    * trillion-token scale): instead of joining EVERY corpus shingle
    * against the benchmark set, a k=2 Bloom bitmap over the benchmark
    * shingles broadcasts (8 bits/element vs the ~100+ bits/element of the
    * exact broadcast set) and a fully codegen'd bit-test drops the
    * overwhelming non-member majority map-side; only the tiny surviving
    * candidate stream reaches the exact confirm join, which removes the
    * bitmap's false positives. False NEGATIVES are impossible (every
    * inserted element tests positive), so the result is BIT-IDENTICAL to
    * [[decontaminate]] — the DuckDB oracle is the exact semantics and any
    * lost row is a correctness failure, not tuning noise.
    *
    * Plan shape: the bitmap builds as explode(2 positions) → map-side
    * partial `bit_or` per 64-bit word → ONE bounded driver collect (m/64
    * longs — 16 KB at the default m=2^20; the same bounded-collect class
    * as the IVF seed quantizer) embedded as a LITERAL array, so the
    * membership test references a plan constant — never a join column
    * that would copy the bitmap into every corpus-shingle row. Positions
    * derive from md5 hex windows (`conv(substring(md5(s)..),16,10) % m`),
    * the engine-shared hash family the fingerprint tier already mirrors.
    * No UDF: the test is two element_at + bitwise-AND expressions inside
    * whole-stage codegen.
    */
  def decontaminateBloom(spark: SparkSession, corpus: DataFrame, benchmark: DataFrame,
                         minShared: Long, mBits: Int = 1 << 20): DataFrame = {
    val bench = shingled(spark, benchmark).select("shingle").distinct()
    bloomCandidates(spark, corpus, bench, mBits)
      .join(broadcast(bench), "shingle") // exact confirm: kills FPs, keeps parity
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** The prefilter stage of [[decontaminateBloom]]: corpus (doc_id,
    * shingle) rows whose two Bloom positions are both set in the bitmap
    * built over `bench` — the candidate stream the exact confirm join
    * then reduces. Exposed so effectiveness (candidates vs total corpus
    * shingles) is testable and reportable, never a silent cap.
    */
  def bloomCandidates(spark: SparkSession, corpus: DataFrame, bench: DataFrame,
                      mBits: Int): DataFrame = {
    val bm = bloomBitmapLit(bench, mBits)
    shingledBloom(spark, corpus, mBits)
      .filter(bloomBitTest(bm, col("p1")) && bloomBitTest(bm, col("p2")))
      .select("doc_id", "shingle")
  }

  /** [[shingled]] plus each shingle's two Bloom bit positions, computed
    * ONCE per row inside the typed map (round 6). The positions are
    * bit-identical to the SQL `conv(substring(md5(s), {1,9}, 8), 16, 10)
    * % m` derivation the q_bloom_stats oracle pins (same md5, same hex
    * windows, big-endian). In expression form the optimizer's predicate
    * pushdown inlines the position aliases into the filter condition,
    * where codegen re-evaluates the md5/conv chain at every reference
    * site (4x per shingle in the 2-bit test); a typed-boundary column is
    * computed exactly once.
    */
  def shingledBloom(spark: SparkSession, docs: DataFrame, mBits: Int): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, t) =>
          val w = t.split(" ", -1) // string_split semantics
          val set = scala.collection.mutable.HashSet.empty[String]
          var i = 0
          while (i < w.length - 1) { set += (w(i) + " " + w(i + 1)); i += 1 }
          set.iterator.map { s =>
            val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val v1 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
              ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
            val v2 = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
              ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
            (id, s, v1 % mBits, v2 % mBits)
          }
        }
      }.toDF("doc_id", "shingle", "p1", "p2")
  }

  /** The Bloom bitmap over `bench`'s shingle column as a plan LITERAL:
    * one bounded driver collect of m/64 longs (16 KB at the default m).
    * A 1-row broadcast join would instead COPY the whole array into every
    * corpus-shingle row's join output — measured 6x slower than the exact
    * op at sf0.1; the literal is referenced by codegen as one constant
    * object per task.
    */
  def bloomBitmapLit(bench: DataFrame, mBits: Int): org.apache.spark.sql.Column = {
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0, s"mBits must be a power of two: $mBits")
    val nWords = mBits / 64
    val h = md5(col("shingle"))
    val posCols = Seq(1, 9).map(o =>
      conv(substring(h, o, 8), 16, 10).cast("long") % mBits)
    val bm = new Array[Long](nWords)
    // map-only build: collect the raw positions (2 per bench shingle —
    // bounded by the same small-benchmark premise that makes the exact
    // set broadcastable) and OR the bits driver-side. The previous
    // per-word bit_or groupBy added a full shuffle stage to the eager
    // build job, re-paid on every query invocation (round 6).
    bench
      .select(explode(array(posCols: _*)).as("p"))
      .collect()
      .foreach { r =>
        val p = r.getLong(0)
        bm((p / 64).toInt) |= 1L << (p % 64).toInt
      }
    typedLit(bm)
  }

  /** Codegen'd single-bit test of position column `p` against the bitmap
    * literal: two element_at + shift + AND expressions, no UDF.
    */
  def bloomBitTest(bmLit: org.apache.spark.sql.Column,
                   p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(bmLit, (p / 64).cast("int") + 1)
      .bitwiseAND(call_function("shiftleft", lit(1L), (p % 64).cast("int"))) =!= 0L

  /** The shingles [[ngramJaccard]] dropped at `dfCap` — the no-silent-caps
    * record: (n_dropped distinct shingles, max document frequency seen).
    */
  def hotShingles(spark: SparkSession, docs: DataFrame, dfCap: Long): DataFrame =
    shingled(spark, docs)
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .agg(
        sum(when(col("df") > dfCap, 1L).otherwise(0L)).as("n_dropped"),
        max("df").as("max_df"))

  /** Duplicate-CLUSTER assignment — the finishing step a web-scale dedup
    * pipeline needs after pair generation: keep one document per
    * connected COMPONENT of the near-dup graph, not one per pair (A~B,
    * B~C must collapse A,B,C together even when A~C was never proposed).
    *
    * Iterative min-label propagation WITH POINTER JUMPING: every round
    * each node adopts the smallest label among itself and its neighbors,
    * then compresses via label-of-label (Shiloach-Vishkin style) — the
    * jump halves remaining chain depth, so convergence is O(log
    * diameter) rounds instead of O(diameter), and a long drifting-
    * template chain converges instead of hitting the iteration bound.
    * Early-exit convergence check; `maxIters` remains the loud backstop.
    * Each round is shuffle joins keyed on node id: no windows, no
    * driver-side graph, no O(corpus) broadcast; ONE `localCheckpoint`
    * per round truncates the growing lineage exactly as iterative Spark
    * algorithms must (the jump reads the previous round's checkpoint, so
    * the propagation result is never materialized separately).
    *
    * All checkpoints are LAZY (round 6, guide §1.2): an eager
    * localCheckpoint is its own Spark job, so a round previously paid two
    * jobs (materialize, then the convergence count) and the edges/labels
    * seeds two more up front. Lazily, the round's convergence count is
    * the action that materializes that round's checkpoint — one job per
    * round, half the per-round scheduling constant, identical blocks.
    *
    * Small-graph fast path (round 6, guide §3.1's broadcast analogy
    * applied to iterative CC): the pair frame is checkpointed and counted
    * ONCE (the count doubles as the materializing action, so neither path
    * recomputes the upstream pair generation), and when the edge count is
    * within `localEdgeMax` the components come from a driver-side
    * union-find instead of 2+ label-propagation rounds of ~6 tiny
    * exchanges each. Identical min-label output by construction; the
    * distributed loop is unchanged above the bound, and with the round-6
    * rep-collapse upstream the graph CC sees is distinct-signature-sized,
    * not member-sized. Pass localEdgeMax = 0 to force the distributed
    * path (tests do).
    *
    * The fast-path bound (default 2^20) counts the rows of the pair frame
    * as given, before any dedup, so duplicate pairs count against it. The
    * driver collect holds those rows as `GenericRow`s of two boxed longs,
    * roughly 80-90 B each (~90 MB at the default), not 16 B of packed
    * (long,long) data; the union-find's boxed `HashMap` comes on top.
    *
    * Input: pair columns (a, b). Output: (doc_id, component) for every
    * endpoint, component = smallest doc_id reachable.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20,
                          localEdgeMax: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    val p = pairs.select(col("a"), col("b")).localCheckpoint(false)
    if (p.count() <= localEdgeMax) {
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x // path compression
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      p.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      // union by min keeps every root the smallest id of its set, so the
      // root IS the component label
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet.forEach(id => out += ((id.toLong, find(id))))
      return out.toSeq.toDF("doc_id", "component")
    }
    val edges = p.select(col("a").as("s"), col("b").as("d"))
      .union(p.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint(false)
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(false)
    var iter = 0
    var converged = false
    while (iter < maxIters && !converged) {
      val candidate = edges.join(labels, edges("s") === labels("id"))
        .select(col("d").as("cid"), col("label").as("nlabel"))
        .groupBy("cid").agg(min("nlabel").as("nlabel"))
      // carry the OLD label through the propagation join so convergence
      // is a filter over the same materialization — not a second join
      val prop = labels.join(candidate, labels("id") === candidate("cid"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("mid"))
      // pointer jump THROUGH THE PREVIOUS round's materialized labels:
      // labels are always node ids, so label-of-label is an inner join
      // that loses no rows; jumping via `labels` (already checkpointed
      // last round) instead of a prop self-join means prop is consumed
      // exactly once and the round needs ONE localCheckpoint, not two.
      // The jump is one step staler than a prop-self-join, but chains
      // still halve per round and the fixpoint (and its early-exit
      // safety argument) is identical: stable labels are per-component
      // constant, and the constant can only be the component min.
      val joined = prop.as("x")
        .join(labels.select(col("id").as("jid"), col("label").as("jlabel")).as("y"),
          col("x.mid") === col("y.jid"))
        .select(col("x.id").as("id"), col("x.old").as("old"),
          least(col("x.mid"), col("y.jlabel")).as("label"))
        .localCheckpoint(false) // truncate iterative lineage (lazy: the
      // convergence count below is the materializing action — one job)
      val changed = joined.filter(col("label") =!= col("old")).count()
      labels = joined.select("id", "label")
      converged = changed == 0
      iter += 1
    }
    // a silent truncation would report one logical component as several
    // and dedup would KEEP near-duplicates — fail loud instead (a >20-hop
    // near-dup chain means the pair generator or maxIters needs attention)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "raise maxIters (or adopt large-star/small-star) for this graph")
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }
}
