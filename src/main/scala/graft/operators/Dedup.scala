package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline. Seven families:
  *
  *   1. exact dedup (group by full text),
  *   2. content-hash dedup (sha256 — constant-width shuffle keys, the
  *      practical exact-dedup at 100 TB where shuffling full documents
  *      would be prohibitive),
  *   3. MinHash-LSH near-dup (banded signatures → bucket join → exact
  *      Jaccard verify; NEVER an all-pairs cartesian),
  *   4. SimHash signatures (bitwise majority over token hashes) and
  *      per-document Hamming-LSH near-dup profiles over them,
  *   5. direct n-gram Jaccard for pairs sharing at least one shingle
  *      (hot-shingle df cap against boilerplate blow-up),
  *   6. connected-components clustering of the near-dup graph
  *      (iterative min-label propagation, no graph collect),
  *   7. cross-split contamination detection (near-dups spanning
  *      train/val/test).
  *
  * Determinism/oracle notes: all hashing is md5-based (`md5()` exists
  * verbatim in DuckDB, and hex→BIGINT is `('0x' || hex)::BIGINT`
  * there vs `conv(hex, 16, 10)` here, so the oracle recomputes
  * identical integer hashes); Jaccard is a ratio of small ints —
  * deterministic IEEE division.
  *
  * Scale notes: every self-join here is keyed (shingle, band bucket) —
  * candidate generation is O(collisions), not O(n²). At 100 TB the
  * shingle explode is a map-only stage; the band join shuffles only
  * (band_key, doc_id) pairs, ~64 bytes/row.
  */
object Dedup {

  /** Checkpoint policy shared across the operator family — see
    * [[Checkpoints]] (one `spark.graft.reliableCheckpoint` switch for
    * every iterative operator).
    */
  private def unpersistCheckpoint(df: DataFrame): Unit =
    Checkpoints.unpersistCheckpoint(df)

  private def persistFrame(df: DataFrame): DataFrame =
    Checkpoints.persistFrame(df)

  /** Word tokens of `text`. */
  private def tokens: Column = split(col("text"), " ")

  /** Exact dedup: one representative (min doc_id) per distinct text.
    * dropDuplicates("text") picks an arbitrary survivor; min(doc_id) is
    * the deterministic equivalent (same set of survivors, stable choice).
    *
    * The GROUP KEY is sha2(text) — a 64-char constant-width string —
    * not the text itself, so the shuffle carries hashes, never
    * document bodies (the same reason [[hashDedup]] exists; at 100 TB
    * a full-text shuffle key is prohibitive). Exact semantics are kept
    * by a collision AUDIT riding the same aggregation: min(text) and
    * max(text) per hash group (partial aggregation sends at most two
    * candidate texts per group per partition, not every row) must be
    * equal — min==max ⟺ all texts in the group are identical. A
    * sha256 collision (~n²/2²⁵⁶ — never, but the audit makes the
    * assumption checkable) raises instead of silently merging two
    * distinct documents.
    */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("__h"))
      .agg(
        min("doc_id").as("rep"), count(lit(1)).as("n_copies"),
        min("text").as("__tmin"), max("text").as("__tmax"))
      .select(
        when(col("__tmin") === col("__tmax"), col("rep"))
          .otherwise(raise_error(lit("sha256 collision: distinct texts in one hash group")))
          .as("rep_doc_id"),
        col("n_copies"))
      .orderBy("rep_doc_id")

  /** Incremental exact dedup — the composition that makes dedup
    * affordable at 100 TB: documents arrive as three append commits
    * to a snapshot table ([[graft.sources.Snapshots]]), and each step
    * processes ONLY that commit's change feed: dedup the batch within
    * itself (min doc_id per sha256), anti-join the fingerprint INDEX
    * table (hashes seen so far), append the survivors to the index.
    * Per-step cost is O(new batch + index probe) — the corpus is
    * never re-deduped. The batches split on doc_id ranges, so
    * first-seen-wins equals the global min(doc_id) representative and
    * the whole incremental run is oracle-checkable against the
    * one-shot dedup of the full table. At scale the index probe is a
    * shuffle on 64-char hashes (or a bloom prefilter — see
    * [[BloomPrune]]); the index table itself is exactly the shape
    * [[graft.sources.Snapshots.compact]] maintains.
    */
  def d9IncrementalDedup(s: SparkSession, d: String,
                         cuts: Option[Seq[Long]] = None): DataFrame = {
    import graft.sources.Snapshots
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val lakeDir = graft.TempDirs.create("graft-incdedup-lake")
    val indexDir = graft.TempDirs.create("graft-incdedup-index")
    val nBatches = commitIdRangeBatches(s, docs, lakeDir, cuts, Nil)
    (0L until nBatches).foreach { v =>
      val batchReps = Snapshots.readChanges(s, lakeDir, v - 1, v)
        .groupBy(sha2(col("text"), 256).as("h"))
        .agg(min("doc_id").as("rep_doc_id"))
      val survivors =
        if (v == 0) batchReps
        else batchReps.join(
          Snapshots.readVersion(s, indexDir).select("h"), Seq("h"), "left_anti")
      Snapshots.commit(survivors.coalesce(1), indexDir,
        if (v == 0) "overwrite" else "append")
    }
    Snapshots.readVersion(s, indexDir)
      .select("rep_doc_id").orderBy("rep_doc_id")
  }

  /** Split `docs` into doc_id-RANGE batches at `cuts` (interior cut
    * points, default thirds of max doc_id) and commit each as one lake
    * version. Range cuts are what make "incremental == one-shot" hold
    * for min-id representatives and ordered pairs: the first batch
    * containing a fingerprint also contains its minimum doc_id, and
    * every cross-step candidate pair has d1(old) < d2(new). Returns
    * the number of batches committed.
    */
  private def commitIdRangeBatches(s: SparkSession, docs: DataFrame,
                                   lakeDir: String, cuts: Option[Seq[Long]],
                                   statsColumns: Seq[String]): Long = {
    import graft.sources.Snapshots
    val cutPoints = cuts.getOrElse {
      val maxId = docs.agg(max("doc_id")).head() match {
      case r if r.isNullAt(0) => throw new IllegalArgumentException(
        "source table is empty — nothing to cut into batches")
      case r => r.getLong(0)
    } // one tiny action
      Seq(maxId / 3, 2 * maxId / 3)
    }.sorted
    val bounds = (Long.MinValue +: cutPoints) :+ Long.MaxValue
    bounds.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
      Snapshots.commit(
        docs.filter(col("doc_id") > lo && col("doc_id") <= hi), lakeDir,
        if (i == 0) "overwrite" else "append", statsColumns = statsColumns)
    }
    bounds.size - 1L
  }

  /** Content-hash dedup stats per source: at 100 TB you shuffle the
    * 64-char sha256, not the document body.
    */
  def hashDedup(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("h", sha2(col("text"), 256))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"))
      .orderBy("source")

  /** Modulus for the affine MinHash family (fits i·b sums in a long). */
  private val MinhashP = 1000000007L

  /** Hashed-shingle frame: (doc_id, sh, hb) where `sh` is the first
    * 60 bits of md5(shingle) as a BIGINT (the join/count key — the
    * shuffle carries 8-byte ints, not multi-word strings) and `hb` is
    * the second 60 bits mod P, the affine multiplier for signatures.
    * ONE md5 per shingle total (Catalyst subexpression elimination
    * fuses the two substrings of the same digest). Hash collisions are
    * ~n_shingles²/2^60 — and the DuckDB oracle applies the identical
    * hash, so hash-compare parity is unconditional either way.
    *
    * The input is hash-repartitioned by doc_id BEFORE the explode:
    * (a) the CPU-heavy shingle hashing parallelizes across the cluster
    * even when the source is a handful of fat parquet splits, and
    * (b) the exchange moves compact text rows once, pre-satisfying
    * every downstream doc_id requirement (token window, distinct,
    * signature groupBy, size groupBy, verify joins) that would
    * otherwise shuffle the ~10× larger exploded shingle frame.
    *
    * Shingle construction is posexplode + lead() — NOT a higher-order
    * `transform(sequence(...), i => element_at(split(text), i+o))`
    * lambda. Higher-order functions evaluate interpreted (outside
    * whole-stage codegen) with no subexpression elimination, so that
    * formulation re-ran the regex `split` of the WHOLE document for
    * every element_at — O(tokens²) string-array allocations per
    * document (measured: a GC-bound straggler stage with 3-20×
    * run-to-run variance). Here split runs once per document inside
    * the codegen'd generate; lead(tok, o) over (doc_id, pos) builds
    * each n-gram from already-exploded tokens; the window sort and the
    * distinct reuse the doc_id partitioning (no extra exchange).
    *
    * localCheckpointed: the band self-join and the Jaccard verify
    * below reuse this frame 3-4×, and Spark self-joins re-execute
    * shared lineage without a materialization.
    */
  private def hashedShingles(docs: DataFrame, n: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    // no explicit count: AQE coalesces the width; a cores-scaled count
    // multiplies per-task fixed costs across the downstream stages
    val toks = docs.repartition(col("doc_id"))
      .select(col("doc_id"), posexplode(tokens).as(Seq("pos", "tok")))
    val withNext = (1 until n).foldLeft(toks)((df, o) =>
      df.withColumn(s"t_$o", lead(col("tok"), o).over(byDoc)))
    withNext
      // rows whose window ran off the document end are incomplete
      // n-grams (the old formulation never generated them)
      .filter((1 until n).map(o => col(s"t_$o").isNotNull).reduce(_ && _))
      .select(col("doc_id"),
        concat_ws(" ", col("tok") +: (1 until n).map(o => col(s"t_$o")): _*).as("shs"))
      .dropDuplicates("doc_id", "shs")
      .select(
        col("doc_id"),
        conv(substring(md5(col("shs")), 1, 15), 16, 10).cast("long").as("sh"),
        (conv(substring(md5(col("shs")), 16, 15), 16, 10).cast("long")
          % MinhashP + 1L).as("hb"))
      .transform(persistFrame)
  }

  /** MinHash signatures from a hashed-shingle frame: sig_i = min over
    * shingles of (sh mod P + i·hb) mod P — the standard 2-universal
    * affine family, one digest per shingle instead of one per
    * (signature × shingle): 12× fewer md5 computations than hashing
    * (i || shingle) per signature.
    */
  private def minhashSigs(sh: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min((col("sh") % MinhashP + lit(i.toLong) * col("hb")) % MinhashP)
        .as(s"sig_$i"))
    persistFrame(sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*))
  }

  /** MinHash-LSH near-duplicate pairs over word-bigram shingles.
    * 12 hashes, 4 bands × 3 rows (b=4, r=3 → S-curve threshold
    * (1/b)^(1/r) ≈ 0.63); candidates = pairs sharing any band bucket;
    * survivors verified with EXACT bigram Jaccard ≥ minJaccard.
    * The plan contains no cartesian product — candidate generation is a
    * hash join on (band index, band key).
    */
  /** (doc_id, band, key) rows from a signature frame: key = md5 of
    * the band's `rowsPerBand` signature values — docs sharing any
    * (band, key) are LSH candidates.
    */
  private def bandKeys(sigs: DataFrame, numHashes: Int,
                       rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until numHashes / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until rowsPerBand).map(r => col(s"sig_${b * rowsPerBand + r}")): _*))
          .as("key"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  def minhashLsh(s: SparkSession, d: String, minJaccard: Double = 0.8): DataFrame = {
    val docs = Tables.documents(s, d)
    val numHashes = 12
    val rowsPerBand = 3
    // ONE shingle explode + digest shared by signature building AND the
    // exact verify below (materialized once)
    val sh = hashedShingles(docs, 2)
    val sigs = minhashSigs(sh, numHashes)

    val bands = bandKeys(sigs, numHashes, rowsPerBand)

    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

    verifiedJaccard(sh, cand)
      .filter(col("jaccard") >= minJaccard)
      .orderBy("d1", "d2")
  }

  /** Incremental MinHash-LSH near-dedup — [[minhashLsh]] as the
    * maintenance loop a 100 TB corpus actually runs: documents arrive
    * as three append commits; each step shingles and signs ONLY its
    * change feed, finds candidates as (new×new within the batch) ∪
    * (new bands ⋈ the band-bucket INDEX of everything seen), verifies
    * with exact Jaccard, and appends its bands to the index. Per-step
    * cost: O(batch) hashing + a keyed join against the index — never
    * a re-sign of the corpus. The old side of a verified pair reads
    * from the session's RETAINED per-step shingle checkpoints — the
    * in-JVM stand-in for the shingle store a production index keeps
    * alongside its bands (store O(corpus) hashes once, never re-derive
    * them): each verify is a semi-join of that store down to the
    * candidate docs, no lake re-read, no re-hash. (An earlier shape
    * re-shingled old candidate docs from the lake through a
    * footer-stats-pruned read — correct, but it re-paid the hashing
    * and two extra actions per step; retention total is exactly the
    * one-shot [[minhashLsh]]'s own shingle footprint, freed when the
    * loop ends.)
    * Batches split on doc_id ranges, so every cross-step pair has
    * d1(old) < d2(new) and the accumulated output is EXACTLY
    * [[minhashLsh]]'s — same oracle, proving one-shot == incremental.
    */
  def d10IncrementalLsh(s: SparkSession, d: String,
                        minJaccard: Double = 0.8,
                        cuts: Option[Seq[Long]] = None): DataFrame = {
    import graft.sources.Snapshots
    val docs = Tables.documents(s, d)
    val lakeDir = graft.TempDirs.create("graft-inclsh-lake")
    val indexDir = graft.TempDirs.create("graft-inclsh-index")
    val nBatches =
      commitIdRangeBatches(s, docs, lakeDir, cuts, statsColumns = Seq("doc_id"))
    var shSeen = List.empty[DataFrame] // retained shingle checkpoints
    val stepPairs = (0L until nBatches).map { v =>
      val batch = Snapshots.readChanges(s, lakeDir, v - 1, v)
      val shNew = hashedShingles(batch, 2)
      val sigs = minhashSigs(shNew, 12)
      val bandsNew = bandKeys(sigs, 12, 3)
      val within = bandsNew.as("a")
        .join(bandsNew.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val cand = persistFrame(
        if (v == 0) {
          // coalesce(1): a batch's bands are ~100 KB — one right-sized
          // file per commit beats one tiny file per shuffle partition
          // (the index is re-read every later step; small files tax
          // every one of those reads)
          Snapshots.commit(bandsNew.coalesce(1), indexDir, "overwrite")
          within.distinct()
        } else {
          // the index read is resolved BEFORE this step's append, so
          // it holds exactly the previously-seen docs' bands
          val index = Snapshots.readVersion(s, indexDir)
          val cross = index.as("a")
            .join(bandsNew.as("b"),
              col("a.band") === col("b.band") && col("a.key") === col("b.key"))
            .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          Snapshots.commit(bandsNew.coalesce(1), indexDir, "append")
          within.unionByName(cross).distinct()
        })
      // verify reads the shingle store (this step's + every retained
      // step's checkpoint) semi-joined down to candidate docs: the
      // tiny cand side broadcasts, per-doc shingle sizes stay exact
      // (the semi-join drops whole docs, never individual shingles)
      val candDocs = cand.select(col("d1").as("doc_id"))
        .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
      val shVerify = (shNew :: shSeen).reduce(_ unionByName _)
        .join(candDocs, Seq("doc_id"), "left_semi")
      val stepResult = persistFrame(
        verifiedJaccard(shVerify, cand).filter(col("jaccard") >= minJaccard))
      // signatures and candidates are step-local — free them now; the
      // shingle checkpoint joins every LATER step's verify, so it is
      // retained until the loop ends (the store's lifetime)
      Seq(sigs, cand).foreach(unpersistCheckpoint)
      shSeen ::= shNew
      stepResult
    }
    shSeen.foreach(unpersistCheckpoint)
    stepPairs.reduce(_ unionByName _).orderBy("d1", "d2")
  }

  /** Exact Jaccard for candidate pairs (d1, d2) over a materialized
    * (doc_id, sh) shingle frame (reused 3×: two pair-side joins + sizes).
    */
  private def verifiedJaccard(sh: DataFrame, cand: DataFrame): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = cand
      .join(sh.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sh.as("s2"),
        col("d2") === col("s2.doc_id") && col("s1.sh") === col("s2.sh"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.as("z1"), col("d1") === col("z1.doc_id"))
      .join(sizes.as("z2"), col("d2") === col("z2.doc_id"))
      .select(
        col("d1"), col("d2"),
        (col("n_common") /
          (col("z1.n_sh") + col("z2.n_sh") - col("n_common"))).as("jaccard"))
  }

  /** Direct n-gram (5-gram) Jaccard near-dup: pairs sharing ≥1 shingle
    * (keyed join on the shingle — no cartesian), filtered by threshold.
    *
    * The intersection count comes DIRECTLY from the shingle self-join +
    * group-by — one keyed join, one aggregation (a distinct-candidates
    * pass followed by two more shingle joins computes the same thing
    * with 3× the shuffle). Join cost is Σ_shingle |bucket|², so the
    * shingle length is the selectivity lever: with a small vocabulary,
    * trigram buckets are huge (measured 30-240 s at sf0.1) while
    * 5-gram buckets are near-singletons — near-dup pairs still share
    * ~97% of 5-grams. minhashLsh remains the scale path that prunes
    * candidates before any pairwise arithmetic.
    */
  def ngramJaccard(s: SparkSession, d: String, minJaccard: Double = 0.8,
                   maxDf: Int = 100): DataFrame =
    ngramJaccardDocs(Tables.documents(s, d), minJaccard, maxDf)

  /** [[ngramJaccard]] over an explicit (doc_id, text) frame. `maxDf`
    * is the hot-shingle guard: a shingle present in more than `maxDf`
    * documents is dropped from BOTH the intersection join and the
    * per-document sizes (Jaccard over the frequency-capped shingle
    * sets; the DuckDB oracle applies the identical filter). Without
    * the cap, ONE boilerplate shingle shared by B documents — headers,
    * license blocks, templated text, all common in real crawl data —
    * makes the self-join emit B(B-1)/2 rows, a data-dependent
    * quadratic cliff; corpus-wide boilerplate carries no
    * discriminative signal for near-dup detection, so capping df
    * bounds every bucket at maxDf² join rows while leaving genuine
    * near-dup pairs (cluster sizes ≪ maxDf) untouched.
    */
  def ngramJaccardDocs(docs: DataFrame, minJaccard: Double = 0.8,
                       maxDf: Int = 100): DataFrame = {
    // reused 4× (self-join both sides + sizes twice) — materialize once;
    // hashed to longs so the Σ|bucket|² join compares 8-byte ints
    val sh0 = hashedShingles(docs, 5)
    // shingles are distinct per doc, so count(*) per sh == document
    // frequency; the hot set is tiny (boilerplate only) and broadcasts
    val hot = sh0.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("sh")
    val sh = sh0.join(hot, Seq("sh"), "left_anti")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val common = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"))
    common
      .join(sizes.as("z1"), col("d1") === col("z1.doc_id"))
      .join(sizes.as("z2"), col("d2") === col("z2.doc_id"))
      .select(col("d1"), col("d2"),
        (col("n_common") /
          (col("z1.n_sh") + col("z2.n_sh") - col("n_common"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
      .orderBy("d1", "d2")
  }

  /** Connected components over the verified near-dup pair graph —
    * dedup CLUSTERING: "keep one representative per group of mutually
    * similar documents" needs the transitive closure of the pairwise
    * relation, not the pairs themselves.
    *
    * Algorithm: iterative min-label propagation (the standard
    * large-graph connected-components formulation — HashToMin-style):
    * every node starts labeled with itself; each round, a node adopts
    * the smallest label among itself and its neighbors; fixpoint after
    * O(component diameter) rounds. Near-dup clusters are shallow
    * (dozens of docs), so 2-4 rounds in practice. Each round is ONE
    * keyed join + ONE aggregation — no collect of the graph; the
    * driver only checks the converged flag. A checkpoint per round
    * truncates the otherwise exponentially-growing lineage
    * (localCheckpoint by default; `spark.graft.reliableCheckpoint=true`
    * for the executor-loss-tolerant variant — see [[persistFrame]]).
    */
  def dedupClusters(s: SparkSession, d: String, minJaccard: Double = 0.8): DataFrame =
    clusterLabels(s, d, minJaccard)
      .groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_members"), sum("id").as("member_id_sum"))
      .orderBy("cluster")

  /** Per-document component labels of the verified near-dup graph —
    * (id, label) for every document that appears in at least one pair;
    * label = the component's minimum doc_id. The reusable core of
    * [[dedupClusters]] (which aggregates it to per-cluster counts) and
    * [[d11CanonicalDocs]] (which joins it back to pick a keeper per
    * cluster).
    */
  def clusterLabels(s: SparkSession, d: String, minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(s, d, minJaccard).select("d1", "d2")
    // symmetric edge list, materialized once (reused every round)
    val edges = persistFrame(pairs
      .union(pairs.select(col("d2").as("d1"), col("d1").as("d2"))))
    var labels = persistFrame(edges.select(col("d1").as("id")).distinct()
      .withColumn("label", col("id")))
    var converged = false
    while (!converged) {
      val neighborMin = edges
        .join(labels, col("d2") === col("id"))
        .groupBy(col("d1").as("nid"))
        .agg(min("label").as("nlabel"))
      // carry the old label inline: the convergence check is then a
      // filter over the checkpointed frame instead of a join back onto
      // the previous round (one fewer shuffle per round)
      val next = persistFrame(labels
        .join(neighborMin, col("id") === col("nid"), "left")
        .select(col("id"), col("label").as("old_label"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label")))
      converged = next.filter(col("label") < col("old_label")).isEmpty
      // the superseded round's checkpoint blocks are dead the moment
      // `next` is materialized and compared — free them NOW instead of
      // leaking one labels RDD per round into the block manager for the
      // life of the session (the operator is self-cleaning; callers
      // need no harness-side unpersist sweeps)
      unpersistCheckpoint(labels)
      labels = next.select("id", "label")
    }
    // edges are only read inside the loop — the result below derives
    // solely from the final labels frame
    unpersistCheckpoint(edges)
    labels
  }

  /** Canonical-document selection — the keep/drop decision that
    * FOLLOWS near-dup clustering in a dedup pipeline: every document
    * gets its component label (its own doc_id when it has no near-dup
    * — a singleton cluster), the per-doc quality score joins in, and
    * exactly one keeper per cluster is flagged (highest quality,
    * doc_id tie-break). Downstream consumes `keep = 1` and the full
    * frame IS the audit trail for what was dropped and why.
    *
    * Scale shape: quality is one text-scan pass; labels cost the d6
    * loop; the decision itself shuffles only (doc_id, cluster,
    * quality) — slim fixed-width rows keyed by cluster, and window
    * groups are cluster-sized (bounded by the LSH candidate caps), so
    * no skewed partition can form. Ordering uses the RAW quality
    * double: t2's formula is bit-identical on both engines (its
    * oracle hash-matches), so raw ordering is deterministic — while
    * ROUND(x, 6) is NOT cross-engine-stable at .5 boundaries (Spark
    * rounds the exact binary value; DuckDB's x·1e6 multiply can land
    * on the other side — observed at sf0.1, one row in 20k).
    */
  def d11CanonicalDocs(s: SparkSession, d: String,
                       minJaccard: Double = 0.8): DataFrame = {
    val labels = clusterLabels(s, d, minJaccard)
    val q = TextAnalysis.qualityScore(s, d)
      .select(col("doc_id"), col("quality"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
      .orderBy(desc("quality"), asc("doc_id"))
    q.join(labels, col("doc_id") === col("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster"), col("quality"))
      .withColumn("keep",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .orderBy("doc_id")
  }

  /** Cross-split contamination: near-dup pairs whose members land in
    * DIFFERENT train/val/test splits (split derivation identical to
    * Sampling.splitAssign). The decontamination step of a training
    * pipeline: an eval document with a near-duplicate in train
    * invalidates the eval — these pairs are what you quarantine.
    */
  def crossSplitContamination(s: SparkSession, d: String,
                              minJaccard: Double = 0.8): DataFrame = {
    val pairs = minhashLsh(s, d, minJaccard).select("d1", "d2", "jaccard")
    // split derivation comes from Sampling — the SAME column expression
    // splitAssign uses, so contamination detection can never diverge
    // from the actual split rule
    val spl = Tables.documents(s, d)
      .select(col("doc_id"), Sampling.splitCol.as("split"))
    pairs
      .join(spl.as("s1"), col("d1") === col("s1.doc_id"))
      .join(spl.as("s2"), col("d2") === col("s2.doc_id"))
      .filter(col("s1.split") =!= col("s2.split"))
      .select(col("d1"), col("d2"),
        col("s1.split").as("split1"), col("s2.split").as("split2"),
        col("jaccard"))
      .orderBy("d1", "d2")
  }

  /** 32-bit SimHash per document: token hash = first 8 md5 hex chars as
    * int; bit b of the signature is set iff the majority of (distinct)
    * tokens have bit b set (strict majority — sum of ±1 > 0).
    *
    * Shape: the 32 bit-votes are 32 conditional-sum AGGREGATE COLUMNS
    * of one groupBy(doc_id) — not an explode(0..31) into 32× the rows.
    * The per-bit shift amount is a literal, so each vote is a codegen'd
    * `shiftright` inside a partially-aggregated hash agg: the shuffle
    * carries one 32-column row per (task, doc) instead of 32·n_tokens
    * vote rows. At 100 TB that is the difference between shuffling the
    * token stream ×32 and shuffling bounded partial sums.
    */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashSigs(s, d, hexChars = 8).orderBy("doc_id")

  /** Unsorted (doc_id, simhash) signature frame, width = 4·hexChars
    * bits (md5 hex prefix → token hash). Shared by the d4 projection
    * (32-bit, the published signature contract) and the near-dup
    * banding (60-bit — see simhashNearDup) so a signature definition
    * exists in exactly one place per width.
    */
  private def simhashSigs(s: SparkSession, d: String, hexChars: Int): DataFrame =
    simhashSigsOf(Tables.documents(s, d), hexChars)

  private def simhashSigsOf(docs: DataFrame, hexChars: Int): DataFrame = {
    val width = hexChars * 4
    val toks = docs
      .select(col("doc_id"), explode(array_distinct(tokens)).as("tok"))
      .withColumn("h",
        conv(substring(md5(col("tok")), 1, hexChars), 16, 10).cast("long"))
    // ±1 vote sum per bit (the r17 shape). r18 restructured this to
    // ones-counting (`2·ones > n`) — arithmetically identical and
    // cheaper per row on paper, but the driver's in-suite bench showed
    // d7 regress 57 % (1.23→1.94 s) and the builder's own solo A/B
    // agreed directionally (1.34→2.28 s); the claimed win was never
    // isolated, so the change is reverted per VERDICT r18 item 2.
    val votes = (0 until width).map(b =>
      sum(when(shiftright(col("h"), b) % 2 === 1, 1).otherwise(-1)).as(s"s_$b"))
    toks.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(
        col("doc_id"),
        (0 until width).map(b =>
          when(col(s"s_$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("simhash"))
  }

  /** Per-document SimHash near-dup profile via Hamming-LSH banding:
    * split each 60-bit signature into four 15-bit bands; any pair
    * agreeing on at least one band is a candidate, verified with
    * popcount(xor) ≤ maxHamming; the output is each document's
    * neighbor count and nearest neighbor (min Hamming, min-id
    * tie-break). Pigeonhole guarantee: ≤3 differing bits can touch at
    * most 3 of the 4 bands, so every pair within Hamming distance 3
    * shares an intact band — EXACT recall at the default threshold,
    * with candidate generation a keyed equi-join on (band, value),
    * never an all-pairs scan.
    *
    * Scale design: (a) the output contract is PER DOCUMENT (n rows),
    * not per pair — on a self-similar corpus the pair set is
    * quadratic-ish and unboundedly data-dependent, while the profile
    * stays linear; (b) the signature is 60-bit (not d4's 32) because
    * discrimination, not storage, is the binding constraint — Hamming
    * ≤3 of 60 is a far stricter relative bar, and 15-bit bands give
    * 32k buckets per band (candidate cost Σ|bucket|² ≈ n²/2^15 under
    * uniform hashing); (c) the nearest neighbor is picked through an
    * exact integer encoding (hamming·10^12 + id) so the argmin is one
    * mergeable MIN aggregate — no window, deterministic everywhere;
    * (d) band buckets larger than maxBucket are dropped before the
    * self-join — the hot-bucket guard (same principle as
    * ngramJaccard's hot-shingle cap). A bucket of c docs costs c²
    * candidate pairs; buckets that large are mass clusters of
    * (near-)identical signatures, which upstream EXACT dedup (d1/d2,
    * which any production stack runs first) should already have
    * collapsed. The default (2048) never triggers at the oracle-gate
    * scales — measured max bucket: 155 at sf0.01, 1582 at sf0.1 —
    * and bounds the 10× smoke corpus (max bucket 2484, 33.5M
    * candidate pairs uncapped at 50k docs). The cap trades exact
    * recall ONLY for members of mass clusters; the oracle applies the
    * identical filter. Beyond ~10^5 docs the 15-bit band capacity
    * itself saturates (Σ|bucket|² ≈ n²/2^15 uniform floor): the
    * production shape then widens the signature past one long
    * (BINARY sig, 16+-bit bands) — banding algebra unchanged.
    * The signature frame is checkpointed once and fed to both sides of
    * the self-join.
    */
  def simhashNearDup(s: SparkSession, d: String, maxHamming: Int = 3,
                     maxBucket: Int = 2048): DataFrame =
    simhashNearDupDocs(Tables.documents(s, d), maxHamming, maxBucket)

  /** simhashNearDup over an explicit documents frame (doc_id, text) —
    * injectable for tests.
    */
  def simhashNearDupDocs(docs: DataFrame, maxHamming: Int = 3,
                         maxBucket: Int = 2048): DataFrame = {
    val bandBits = 15
    val sigs = persistFrame(simhashSigsOf(docs, hexChars = 15))
    val bands = sigs.select(
      col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b => struct(
        lit(b).as("band"),
        (shiftright(col("simhash"), b * bandBits) % (1 << bandBits)).as("v"))): _*))
        .as("bv"))
      .select(col("doc_id"), col("simhash"),
        col("bv.band").as("band"), col("bv.v").as("v"))
    // hot-bucket guard: the (band, value) buckets above the cap are a
    // SMALL set (each holds >maxBucket docs), so the filter is a
    // broadcast anti-join — the bands stream never shuffles to be pruned
    val hot = bands.groupBy("band", "v")
      .agg(count(lit(1)).as("c")).filter(col("c") > maxBucket)
      .select("band", "v")
    val kept = bands.join(broadcast(hot), Seq("band", "v"), "left_anti")
    val cand = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
    val pairs = cand
      .withColumn("hamming", expr("CAST(bit_count(h1 ^ h2) AS BIGINT)"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
    val sym = pairs.select(col("d1").as("doc_id"), col("d2").as("nbr"), col("hamming"))
      .union(pairs.select(col("d2").as("doc_id"), col("d1").as("nbr"), col("hamming")))
    // argmin by (hamming, nbr) via struct min — lexicographic struct
    // ordering gives the deterministic tie-break without the
    // hamming*K+nbr integer encoding, which silently corrupts both
    // fields (and can mis-rank) once doc ids reach the K=1e12 radix
    sym
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_near"),
        min(struct(col("hamming"), col("nbr"))).as("nn"))
      .select(col("doc_id"), col("n_near"),
        col("nn.nbr").as("nn_id"),
        col("nn.hamming").cast("int").as("nn_hamming"))
      .orderBy("doc_id")
  }

  /** Benchmark decontamination: flag TRAIN documents sharing exact
    * 5-gram shingles with the held-out eval set (the `test` split of
    * the same deterministic hash split p1/c1 use). This is the exact
    * n-gram overlap check of published LLM training pipelines —
    * distinct from c1, which finds whole-document near-dups across
    * splits: a train doc that QUOTES one eval passage verbatim is
    * contamination even at a tiny whole-document Jaccard, and this
    * operator catches exactly that.
    *
    * Per flagged train doc: its distinct-shingle count, how many of
    * those shingles appear anywhere in the eval set, how many eval
    * docs are touched, and the overlap ratio.
    */
  def benchmarkDecontam(s: SparkSession, d: String, maxEvalDf: Int = 100,
                        minOverlap: Long = 1L): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text"), Sampling.splitCol.as("split"))
    benchmarkDecontamDocs(
      docs.filter(col("split") === "train").select("doc_id", "text"),
      docs.filter(col("split") === "test").select("doc_id", "text"),
      maxEvalDf, minOverlap)
  }

  /** [[benchmarkDecontam]] over explicit (doc_id, text) train/eval
    * frames — injectable for tests.
    *
    * Scale design: the probe join is keyed on the 60-bit shingle hash
    * (8-byte join keys; document bodies never shuffle). Join output is
    * Σ_sh trainDf(sh)·evalDf(sh), so the blow-up lever is a hot
    * shingle on the EVAL side; dropping eval shingles with
    * df > maxEvalDf (boilerplate carries no contamination signal)
    * bounds the join at maxEvalDf·|trainShingles| — linear in corpus
    * size. The eval side of a real pipeline is a benchmark suite —
    * orders of magnitude smaller than train — so the per-shingle eval
    * doc lists stay tiny and the aggregation state is bounded.
    */
  def benchmarkDecontamDocs(train: DataFrame, eval: DataFrame,
                            maxEvalDf: Int = 100,
                            minOverlap: Long = 1L): DataFrame = {
    val trainSh = hashedShingles(train, 5).select("doc_id", "sh")
    val evalSh = hashedShingles(eval, 5)
      .select(col("doc_id").as("eval_id"), col("sh"))
    // hot-shingle guard (eval side): the over-cap shingle set is small
    // by construction, so the prune is a broadcast anti-join
    val hot = evalSh.groupBy("sh")
      .agg(count(lit(1)).as("df")).filter(col("df") > maxEvalDf)
      .select("sh")
    val evalKept = evalSh.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    trainSh.join(evalKept, "sh")
      .groupBy("doc_id")
      .agg(
        countDistinct(col("sh")).as("n_overlap"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_overlap") >= minOverlap)
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("n_sh"), col("n_overlap"), col("n_eval_docs"),
        (col("n_overlap") / col("n_sh")).as("overlap_ratio"))
      .orderBy("doc_id")
  }

  /** Duplicated-passage profile — substring-level dedup signal (the
    * "deduplicating training data" span-dedup family): for each doc,
    * how many of its distinct n-token windows also occur in ANOTHER
    * document (or repeat later in the corpus). Unlike the
    * whole-document family (d1-d7) this catches partial copies —
    * quoted passages, shared boilerplate paragraphs — that leave
    * whole-doc similarity low.
    *
    * Shape: one shingle pass ([[hashedShingles]], window size n) → a
    * window-keyed df count → join back on the 60-bit window hash →
    * per-doc partial aggregation. Both shuffles carry 8-byte keys;
    * nothing is quadratic — the df count is a pure aggregation, never
    * a self-join, so a boilerplate window shared by a million docs
    * costs one counter, not 10¹² pairs (the reason this profile scales
    * where d5's pairwise verify needs its frequency cap).
    */
  def dupPassages(s: SparkSession, d: String, n: Int = 8): DataFrame =
    dupPassagesDocs(Tables.documents(s, d), n)

  /** [[dupPassages]] over an explicit (doc_id, text) frame. */
  def dupPassagesDocs(docs: DataFrame, n: Int = 8): DataFrame = {
    val sh = hashedShingles(docs.select("doc_id", "text"), n)
      .select("doc_id", "sh")
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    sh.join(df, "sh")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_windows"),
        max("df").as("max_window_df"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") / col("n_windows")).as("dup_ratio"),
        col("max_window_df"))
      .orderBy("doc_id")
  }
}

