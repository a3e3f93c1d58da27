package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.Hashing

/** Corpus-curation operators a production training-data pipeline runs after
  * near-dup detection: resolving pair lists into canonical duplicate GROUPS
  * (connected components) and deterministic stratified down-sampling.
  * Neither exists in the reference (its dedup story stops at exact
  * `dropDuplicates`); both are required to act on the q25/q27/q28 pair
  * outputs at scale.
  */
object Curation {

  /** Pinned mixture weights for [[domainMixSample]], covering every corpus
    * source: share of src_i ∝ (20 - i), normalized (sum = 1). The DuckDB
    * oracle renders its VALUES table from this same constant, so both
    * engines compute from identical doubles.
    */
  val DomainTargets: Seq[(String, Double)] =
    (0 until 20).map(i => (s"src$i", (20.0 - i) / 210.0))

  /** Connected components over an undirected pair list via iterative
    * min-label propagation: every doc's label converges to the smallest
    * doc_id reachable through the near-dup graph — the canonical id of its
    * duplicate cluster. Output: (doc_id, component) for EVERY document
    * (singletons map to themselves).
    *
    * Scale shape: each round is one equality join (labels × edges) + one
    * map-side-combinable min-aggregate — all hash-shuffles on doc_id; no
    * driver-side adjacency. Rounds needed = graph diameter; near-dup
    * clusters are short chains in practice (the planted stress clusters
    * have diameter ≤ 2, real LSH clusters rarely exceed single digits), and
    * each round's `localCheckpoint` truncates lineage so plan size stays
    * constant. For pathological diameters swap in large-star/small-star
    * (O(log n) rounds, same join shape). Deterministic: the fixpoint is
    * unique regardless of execution order, so the DuckDB recursive-CTE
    * oracle reproduces it exactly.
    */
  def connectedComponents(pairs: DataFrame, allDocs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // checkpoint the edge list once: it joins into EVERY round, and its
    // lineage (the whole LSH pair pipeline) would otherwise recompute per
    // round (measured 6.1 s → 3.9 s for q50 at sf0.1)
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    // iterate ONLY over edge-touched vertices: the label table scales with
    // docs that have at least one near-dup pair, not with the corpus.
    // Singletons (the overwhelming majority at 100 TB) never enter the
    // loop — they are stitched back in with one left join at the end.
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("component", col("doc_id")).localCheckpoint()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      // neighbor labels flow along edges; keep the min of (own, neighbors).
      // Tagging each vertex's own label lets ONE aggregate produce both the
      // new label and the previous one, so the convergence probe below is a
      // plain scan of the checkpointed round output — no comparison join,
      // one shuffle job per round total.
      val msgs = edges.join(labels, edges("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("component"), lit(false).as("own"))
      val next = labels
        .select(col("doc_id"), col("component"), lit(true).as("own"))
        .union(msgs)
        .groupBy(col("doc_id"))
        .agg(min(col("component")).as("component"),
          min(when(col("own"), col("component"))).as("prev"))
        .localCheckpoint() // truncate lineage: constant-size plan per round
      // any-change probe over the already-materialized (tiny) round table
      converged = next.where(col("component") =!= col("prev"))
        .limit(1).count() == 0
      // reassignment drops the only reference to the previous round's
      // checkpointed blocks (one slim row per edge-vertex); ContextCleaner
      // reclaims them asynchronously and MEMORY_AND_DISK spills under
      // pressure, so peak pinned storage stays O(edge-vertex ids)
      labels = next.select(col("doc_id"), col("component"))
      round += 1
    }
    // propagation converges in ≤ diameter rounds; returning unconverged
    // labels would silently break the fixpoint contract (and the oracle)
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxRounds rounds — " +
        "component diameter exceeds the cap; raise maxRounds or use " +
        "connectedComponentsStar (large-star/small-star, O(log² n) rounds)")
    // corpus is touched exactly once: singletons are their own component
    allDocs.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Connected components via alternating large-star / small-star edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the O(log²·)-round alternative to [[connectedComponents]]'
    * min-label propagation, whose round count is the component DIAMETER.
    * Near-dup clusters are short chains, so propagation wins there; this
    * is the resolver for pathological graphs (long chains from chunk-
    * overlap dedup, transitive URL chains) where diameter ≈ n and
    * propagation cannot finish. Same output contract: (doc_id, component
    * = min reachable doc_id) for EVERY document.
    *
    * Scale shape per round: two grouped min-aggregates and an equality
    * join per star step — all hash-shuffles on node id, map-side
    * combinable, no driver-side graph; `localCheckpoint` truncates
    * lineage each round; convergence = edge multiset checksum unchanged
    * (a scan, not a join). The fixpoint is the unique min-label star
    * forest, so results equal propagation's exactly wherever both finish.
    */
  def connectedComponentsStar(pairs: DataFrame, allDocs: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    // large-star: every node points its LARGER neighbors at the min of
    // its closed neighborhood; small-star: the smaller-or-equal ones
    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val m = bidir.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      bidir.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      oriented.join(m, "u")
        .select(explode(array(col("v"), col("u"))).as("u"), col("m").as("v"))
        .where(col("u") =!= col("v")).distinct()
    }
    // convergence = edge multiset unchanged, detected by checksum. One
    // 64-bit hash-sum could in principle collide across rounds and declare
    // a false fixpoint; summing TWO independent functions of each edge
    // (xxhash64 of (u,v) and of the swapped (v,u)) alongside the count
    // makes a silent false convergence require a simultaneous collision in
    // both sums (~2⁻¹²⁸) — while staying a single tiny aggregate, not the
    // exceptAll anti-join a set-difference probe would cost every round
    def checksum(e: DataFrame): (Long, Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)),
        coalesce(sum(xxhash64(col("v"), col("u"))), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    var edges = pairs
      .select(col("doc1").cast("long").as("u"), col("doc2").cast("long").as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint()
    var prev = checksum(edges)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxRounds rounds")
    // converged star forest: every non-root points straight at its
    // component's min; roots (and singletons) map to themselves
    val labels = edges.groupBy(col("u").as("doc_id"))
      .agg(min(col("v")).as("component"))
    allDocs.select(col("doc_id")).join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
  }

  /** Near-dup cluster assignment for the documents table: MinHash-LSH pairs
    * (q25) resolved to canonical components. The downstream "keep one per
    * cluster" filter is then `WHERE doc_id = component`.
    *
    * Memoized per (session, sfDir, threshold): q50 and the composed q61
    * verdict consume the same resolution, so a session pays the iterative
    * propagation once (the pair list underneath is itself memoized).
    */
  def dedupComponents(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"dedupComponents|$sfDir|$threshold") {
      connectedComponents(
        Dedup.minhashPairs(spark, sfDir, threshold).select(col("doc1"), col("doc2")),
        Tables.documents(spark, sfDir).select(col("doc_id")))
    }

  /** [[dedupComponents]] resolved by [[connectedComponentsStar]] instead —
    * identical output (unique fixpoint), gated against the SAME oracle as
    * q50; the resolver to reach for when cluster diameters are unbounded.
    */
  def dedupComponentsStar(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"dedupComponentsStar|$sfDir|$threshold") {
      connectedComponentsStar(
        Dedup.minhashPairs(spark, sfDir, threshold).select(col("doc1"), col("doc2")),
        Tables.documents(spark, sfDir).select(col("doc_id")))
    }

  /** Rand index and ADJUSTED Rand index between the near-dup clusterings
    * at two thresholds — the quantitative answer to "how different are
    * the 0.7 and 0.8 dedup worlds" that q225's dendrogram shows
    * qualitatively: pair-counting agreement over every document pair
    * (together in both / in one / in neither), with ARI correcting for
    * chance so a near-1 score means the threshold choice barely matters.
    *
    * Determinism: all pair counts are exact C(n,2) integer sums in
    * Decimal(38,0) (corpus-squared magnitudes overflow int64); the two
    * indices evaluate in pinned trees rounded at 6 dp.
    *
    * Scale shape: the contingency cells are a (comp_a, comp_b)-keyed
    * aggregate of the doc-sized join — bounded by cluster count — and
    * every subsequent sum is over cells or clusters, never pairs.
    */
  def clusteringAgreement(spark: SparkSession, sfDir: String,
      thresholdA: Double = 0.7, thresholdB: Double = 0.8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    def pairsOf(c: org.apache.spark.sql.Column) =
      (c.cast(dec) * (c.cast(dec) - 1) / 2).cast(dec)
    val a = dedupComponents(spark, sfDir, thresholdA)
      .select(col("doc_id"), col("component").as("ca"))
    val b = dedupComponents(spark, sfDir, thresholdB)
      .select(col("doc_id"), col("component").as("cb"))
    val j = a.join(b, "doc_id").localCheckpoint()
    val sBoth = j.groupBy(col("ca"), col("cb")).agg(count(lit(1)).as("n"))
      .agg(sum(pairsOf(col("n"))).as("s_both"))
    val sA = j.groupBy(col("ca")).agg(count(lit(1)).as("n"))
      .agg(sum(pairsOf(col("n"))).as("s_a"))
    val sB = j.groupBy(col("cb")).agg(count(lit(1)).as("n"))
      .agg(sum(pairsOf(col("n"))).as("s_b"))
    val n = j.agg(count(lit(1)).as("n_docs"))
    n.crossJoin(broadcast(sBoth)).crossJoin(broadcast(sA))
      .crossJoin(broadcast(sB))
      .withColumn("total", pairsOf(col("n_docs")))
      .select(col("n_docs"),
        col("s_both").cast("long").as("pairs_both"),
        (col("s_a") - col("s_both")).cast("long").as("pairs_a_only"),
        (col("s_b") - col("s_both")).cast("long").as("pairs_b_only"),
        round((col("s_both") + (col("total") - col("s_a") - col("s_b")
          + col("s_both"))).cast("double") / col("total").cast("double"), 6)
          .as("rand_index"),
        round((col("s_both").cast("double")
          - col("s_a").cast("double") * col("s_b").cast("double")
            / col("total").cast("double"))
          / ((col("s_a").cast("double") + col("s_b").cast("double")) / 2.0
            - col("s_a").cast("double") * col("s_b").cast("double")
              / col("total").cast("double")), 6).as("adjusted_rand"))
  }

  /** Integer fixed-point PageRank over the near-dup graph (q25's pair
    * list, undirected): ranks duplicate-cluster members by how central
    * they are to their cluster's link structure — the graph-importance
    * signal a curation pipeline uses to pick WHICH member of a big near-dup
    * family to keep (hub pages and canonical mirrors score high; leaf
    * scrapes score low), the same role PageRank plays in web-corpus
    * quality weighting (Common Crawl's harmonic-centrality cousins).
    *
    * All arithmetic is 64-bit integer fixed point (×10¹²): r₀ = S/N;
    * r_{t+1}(v) = (0.15·S)/N + (85·Σ_{u→v} r_t(u) div deg(u)) div 100,
    * truncating division throughout. Integer sums are order-independent,
    * so the result is bit-exact on ANY engine and partial-aggregation
    * order cannot flip the hash gate — the q60 determinism recipe applied
    * to an ITERATIVE kernel (float PageRank is never cross-engine
    * reproducible; truncated fixed-point is, and the ≤10⁻¹² mass lost to
    * truncation per step is irrelevant to ranking).
    *
    * Scale shape: ranks live only on edge-touched vertices (like
    * [[connectedComponents]] — singletons hold the uniform base rank by
    * definition and never enter the loop); each round is one equality join
    * (edges × ranks) plus one map-side-combinable sum keyed on doc_id;
    * `localCheckpoint` truncates lineage per round; the edge list is
    * checkpointed once and reused. N arrives via a broadcast one-row
    * aggregate — no driver-side collect. Fixed iteration count (power
    * iteration converges geometrically at rate d; 10 rounds ≈ 0.85¹⁰ <
    * 0.2 residual, plenty to order near-dup cluster members).
    */
  def dedupPagerank(spark: SparkSession, sfDir: String,
      iters: Int = 10, threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"dedupPagerank|$sfDir|$iters|$threshold") {
      pagerankOf(Dedup.minhashPairs(spark, sfDir, threshold), iters)
    }

  /** [[dedupPagerank]] over an arbitrary undirected (doc1, doc2) pair
    * frame.
    */
  def pagerankOf(pairs: DataFrame, iters: Int = 10): DataFrame = {
    val scale = 1000000000000L
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    val nodes = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
      .crossJoin(broadcast(edges.select(col("src").as("doc_id")).distinct()
        .agg(count(lit(1)).as("n_nodes"))))
      .localCheckpoint()
    var ranks = nodes
      .select(col("doc_id"), expr(s"${scale}L DIV n_nodes").as("r"))
      .localCheckpoint()
    for (_ <- 0 until iters) {
      val contribs = edges
        .join(ranks.join(nodes.select(col("doc_id"), col("deg")), "doc_id"),
          edges("src") === col("doc_id"))
        .select(col("dst"), expr("r DIV deg").as("c"))
      ranks = contribs.groupBy(col("dst").as("doc_id"))
        .agg(sum(col("c")).as("sc"))
        .join(nodes.select(col("doc_id"), col("n_nodes")), "doc_id")
        .select(col("doc_id"),
          (expr(s"${scale * 15 / 100}L DIV n_nodes")
            + expr("(sc * 85L) DIV 100")).as("r"))
        .localCheckpoint()
    }
    // pagerank_fp ONLY: the gated artifact stays pure int64 end to end.
    // A derived double (fp / 10^12) was twice flagged by the cross-engine
    // hash gate despite matching locally — a reader wanting the float
    // divides at display time; the engine ships the exact integer.
    ranks
      .select(col("doc_id"), col("r").cast("long").as("pagerank_fp"))
  }

  /** Sequence packing for LLM pretraining: assign documents to fixed
    * token-capacity bins by running cumulative token count, per shard.
    * Output: (doc_id, shard, n_tokens, start_offset, bin_id) where
    * start_offset is the document's token offset within its shard's packed
    * stream and bin_id = start_offset / capacity (a document whose tokens
    * straddle a boundary starts in bin_id and spills — the standard packed-
    * sequential layout, where the trainer handles boundary crossing).
    *
    * Scale shape: a GLOBAL packing order would need a single-partition
    * window — the classic 100 TB trap — so packing is per shard
    * (`pmod(doc_id, nShards)`), the way packed training data is laid out
    * per output file anyway: one shuffle on shard, cumulative-sum windows
    * run shard-parallel, and nShards scales with the cluster.
    */
  def sequencePacking(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame =
    sequencePackingOf(Tables.documents(spark, sfDir), capacity, nShards)

  /** [[sequencePacking]] over an arbitrary (doc_id, text, ...) frame —
    * the form the shard writer calls AFTER the keep/drop filter, so
    * surviving documents pack contiguously (offsets computed on the
    * filtered set, not the raw corpus).
    */
  def sequencePackingOf(documents: DataFrame,
      capacity: Int = 2048, nShards: Int = 8): DataFrame = {
    val docs = documents
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", floor(col("start_offset") / capacity))
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("start_offset"), col("bin_id"))
  }

  /** Curriculum packing: [[sequencePacking]] with the within-shard order
    * driven by the pinned quality-model score (best documents first,
    * doc_id tiebreak) instead of ingestion order — the data-ordering lever
    * of curriculum training (feed cleaner text early), expressed as a
    * packing variant so the trainer's loader needs no new layout.
    *
    * Scale shape: identical to [[sequencePackingOf]] — one shuffle on
    * shard, per-shard cumulative windows (never global), the score is a
    * map-side projection fused into the scan. Deterministic: (model_score
    * desc, doc_id) is a total order, so offsets are engine-reproducible.
    */
  def curriculumPacking(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(nShards)).cast("int").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        graft.functions.Text.modelScore(col("text")).as("model_score"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("model_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id", floor(col("start_offset") / capacity))
      .select(col("doc_id"), col("shard"), col("model_score"),
        col("n_tokens"), col("start_offset"), col("bin_id"))
  }

  /** The packed-shard manifest the capstone writer lays on disk, computed
    * WITHOUT the filesystem write: the [[curationDecisions]] keep-set
    * composed with [[sequencePackingOf]], one row per surviving document
    * with its (shard, bin_id, start_offset, n_tokens) layout coordinates.
    * This is the trainer-facing contract of [[writeTrainingShards]] as a
    * pure, hash-checkable DataFrame — the oracle gates the LAYOUT, and the
    * writer is a thin side-effect around it (it derives its rows from this
    * exact frame, so the two cannot diverge).
    *
    * Scale shape: inherits the verdict's and packing's documented plans —
    * memoized sub-pipelines, one shuffle on shard, per-shard cumulative
    * windows, never a global order.
    */
  def shardManifest(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame =
    // durable family (r17): the manifest is one narrow row per surviving
    // document and q99/q124/q157/q237 each re-ran the verdict join + the
    // per-shard packing windows to derive it
    SessionMemo.durable(spark, sfDir,
      s"shardManifest|$sfDir|$capacity|$nShards") {
      val kept = curationDecisions(spark, sfDir)
        .where(col("keep") === 1).select(col("doc_id"))
      sequencePackingOf(Tables.documents(spark, sfDir).join(kept, "doc_id"),
          capacity, nShards)
        .select(col("doc_id"), col("shard"), col("bin_id"),
          col("start_offset"), col("n_tokens"))
    }

  /** The end-to-end curation capstone: apply the composed keep/drop
    * verdict ([[curationDecisions]]), pack the SURVIVORS into per-shard
    * token bins ([[shardManifest]] — offsets over the filtered set,
    * so packed streams are gapless), and write shard-partitioned parquet
    * — the on-disk layout a trainer's data loader reads.
    *
    * Scale shape: verdict and packing keep their documented plans; the
    * final write shuffles once on `shard` (partitionBy) so each output
    * directory is written by the tasks owning that shard, SORTED within
    * the shard by (bin_id, start_offset) — the trainer's loader reads the
    * packed stream sequentially, and the sort also tightens parquet
    * row-group min/max bounds so a bin-range predicate prunes row groups.
    * Text shards compress with zstd (~2× smaller than snappy on text for
    * marginal CPU — at 100 TB the difference is storage-tier money).
    * Returns the written manifest (doc_id, shard, bin_id, start_offset,
    * n_tokens) for the caller to gate on.
    */
  def writeTrainingShards(spark: SparkSession, sfDir: String, outDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame = {
    val packed = shardManifest(spark, sfDir, capacity, nShards)
    Tables.documents(spark, sfDir).join(packed, "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("shard"), col("bin_id"), col("start_offset"), col("n_tokens"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("bin_id"), col("start_offset"))
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("shard").parquet(outDir)
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("shard"), col("bin_id"),
        col("start_offset"), col("n_tokens"))
  }

  /** Token-budget-capped per-source selection — the mixture assembly step
    * once shares are decided (q57/q78 pick RATES; this picks the DOCUMENTS):
    * per source, take documents in (model_score desc, doc_id) order while
    * the running token total stays within `budget`. Output: the kept rows
    * with their cumulative token position — the per-source reading order.
    *
    * Scale shape: one shuffle on source, a per-source cumulative-sum
    * window in that deterministic total order, and the budget filter. The
    * window is the honest plan — a running sum cannot group-limit — so a
    * mega-source pays one sort of ITS documents (per-source, never
    * global); at 100 TB shares per source are corpus-fractions and
    * `nShards`-style source splitting bounds any single sort.
    */
  def tokenBudgetSelection(spark: SparkSession, sfDir: String,
      budget: Long = 5000L): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        graft.functions.Text.modelScore(col("text")).as("model_score"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("model_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("source"), col("model_score"),
        col("n_tokens"), col("cum_tokens"))
  }

  /** Per-cluster dedup accounting over the [[dedupComponents]] resolution:
    * member count, total tokens, and the duplicate tokens (non-canonical
    * members') the dedup pass saves — the "what did dedup buy us" report
    * every corpus release ships with. One row per component (singletons
    * included: n_members = 1, duplicate_tokens = 0); the canonical member
    * IS the component id (min-label fixpoint).
    *
    * Scale shape: the component table is memoized (one row per doc); the
    * token counts are a map-side projection on the documents scan; one
    * equality join on doc_id and one aggregate keyed on component.
    */
  def dedupClusterStats(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    dedupComponents(spark, sfDir, threshold)
      .join(toks, "doc_id")
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(col("doc_id") =!= col("component"), col("n_tokens"))
          .otherwise(0L)).as("duplicate_tokens"))
      .select(col("component"), col("n_members"), col("total_tokens"),
        col("duplicate_tokens"),
        round(col("duplicate_tokens").cast("double") / col("total_tokens"), 6)
          .as("dup_token_frac"))
  }

  /** Per-shard packing-efficiency report over [[sequencePacking]]: bins
    * opened, token mass, and utilization (tokens / bins·capacity) — the
    * number that tells a training run how much padding/waste the packed
    * layout carries per output shard (low utilization ⇒ revisit capacity
    * or ordering). One row per shard.
    *
    * Scale shape: chains the packing's per-shard windows, then one
    * shard-keyed aggregate — nShards rows out.
    */
  def packingEfficiency(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame =
    sequencePacking(spark, sfDir, capacity, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (max(col("bin_id")) + 1).as("n_bins"))
      .select(col("shard"), col("n_docs"), col("total_tokens"), col("n_bins"),
        round(col("total_tokens").cast("double") / (col("n_bins") * capacity), 6)
          .as("utilization"))

  /** Dedup survival by source: how many of each source's documents remain
    * canonical after the [[dedupComponents]] resolution — the per-source
    * attrition report that shows WHERE the near-dup mass lives (a mirror
    * site's survival rate collapses; an original's stays ~1).
    *
    * Scale shape: the component table is memoized and doc-sized; one
    * equality join to the documents scan's (doc_id, source) projection
    * and one source-keyed aggregate.
    */
  def dedupSurvivalBySource(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    dedupComponents(spark, sfDir, threshold)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("component"), 1L).otherwise(0L))
          .as("n_canonical"))
      .select(col("source"), col("n_docs"), col("n_canonical"),
        round(col("n_canonical").cast("double") / col("n_docs"), 6)
          .as("survival_rate"))

  /** WHERE the contamination sits, not just whether: for every training
    * document sharing an `n`-gram with the benchmark slice, the 0-based
    * token positions of the matching grams — first/last match and the
    * matched-position count. The span detail is what an audit needs to
    * decide between dropping the document and excising the span (the
    * common remediation when a long document quotes one benchmark item).
    * Only contaminated documents produce rows (the q56 flag already
    * covers the rest).
    *
    * Scale shape: the positional gram stream is the q56 map pass plus one
    * int; the benchmark side is distinct-hashed and broadcast (same
    * eval-suite-sized contract as [[decontaminateAgainst]]); matches
    * survive an inner broadcast join — clean grams die map-side — and the
    * rollup is per-doc. No shuffle on the gram key at any corpus size.
    */
  def decontaminationSpans(spark: SparkSession, sfDir: String,
      n: Int = 8, benchMod: Int = 97): DataFrame = {
    // documentsSpread: the positional gram explode+hash otherwise runs as
    // one serial task on the single-split gate corpus (StageMetrics r13)
    val docs = Tables.documentsSpread(spark, sfDir)
    decontaminationSpansAgainst(
      docs.where(col("doc_id") % benchMod =!= 0),
      docs.where(col("doc_id") % benchMod === 0), n)
  }

  /** [[decontaminationSpans]] against an explicit benchmark table — the
    * production form, mirroring [[decontaminateAgainst]].
    */
  def decontaminationSpansAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
      n: Int = 8): DataFrame = {
    val grams = trainDocs
      .select(col("doc_id"),
        posexplode(graft.functions.Text.shingles(col("text"), n))
          .as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        Hashing.stableHash60(col("gram")).as("gram_h"))
    val bench = benchDocs
      .select(explode(graft.functions.Text.shingles(col("text"), n)).as("gram"))
      .select(Hashing.stableHash60(col("gram")).as("gram_h"))
      .distinct()
    grams.join(broadcast(bench), Seq("gram_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_positions"),
        min(col("pos")).as("first_pos"),
        max(col("pos")).as("last_pos"))
      .withColumn("span_tokens", col("last_pos") - col("first_pos") + n)
  }

  /** Mixture shift under curation: per-source document shares BEFORE the
    * composed keep/drop verdict and AFTER it, with the delta — the report
    * that tells a data lead whether dedup/quality filtering silently
    * re-weighted the training mix (a mirror-heavy source collapses, and
    * the remix either gets compensated in the q57 rates or signed off).
    *
    * Scale shape: two source-keyed counts (the verdict side reuses the
    * memoized q61 pipeline) and a one-row totals broadcast; |sources|
    * rows out.
    */
  def survivorMixShift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val kept = curationDecisions(spark, sfDir)
      .where(col("keep") === 1).select(col("doc_id"), lit(1).as("__k"))
    // totals via a window over the |sources|-row joined frame — one pass
    // per side instead of re-running both aggregations for a totals row
    // (the window's single partition holds |sources| rows, not documents)
    val all = Window.partitionBy(lit(1))
    // ONE pass: raw and survivor counts ride the same left join + source
    // aggregate (the old raw/surv split scanned documents twice and paid
    // a second join round; a source with zero survivors sums to 0 exactly
    // like the old coalesced left join)
    docs.join(kept, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__k").isNotNull, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("total_docs", sum(col("n_docs")).over(all))
      .withColumn("total_kept", sum(col("n_kept")).over(all))
      .select(col("source"), col("n_docs"), col("n_kept"),
        round(col("n_docs").cast("double") / col("total_docs"), 6).as("raw_share"),
        round(col("n_kept").cast("double") / col("total_kept"), 6)
          .as("survivor_share"))
      .withColumn("share_delta",
        round(col("survivor_share") - col("raw_share"), 6))
  }

  /** REVERSE contamination view: per BENCHMARK document, how much of the
    * training corpus touches it — distinct contaminated train docs and
    * distinct shared grams. [[decontaminate]] answers "which train docs
    * must go"; this answers the leaderboard-integrity question "which
    * eval items are compromised, and how badly" — the report an eval
    * owner reads before trusting a score.
    *
    * Scale shape: the benchmark gram set (eval-suite-sized, WITH its doc
    * ids) broadcasts onto one pass of the training gram stream; the
    * surviving (bench_doc, train_doc/gram) hits — contamination-volume
    * sized, not corpus-sized — roll up per bench doc.
    */
  def benchmarkContamination(spark: SparkSession, sfDir: String,
      n: Int = 3, benchMod: Int = 97): DataFrame = {
    import graft.functions.Text
    // documentsSpread: the train-side gram explode+hash is the dominant
    // cost and the one-split table would run it as a single serial task
    val docs = Tables.documentsSpread(spark, sfDir)
    def grams(d: DataFrame) = d
      .select(col("doc_id"),
        explode(Text.shingles(col("text"), n)).as("gram"))
      .select(col("doc_id"), Hashing.stableHash60(col("gram")).as("gram_h"))
      .distinct()
    val bench = grams(docs.where(col("doc_id") % benchMod === 0))
      .withColumnRenamed("doc_id", "bench_doc")
    grams(docs.where(col("doc_id") % benchMod =!= 0))
      .join(broadcast(bench), Seq("gram_h"))
      .groupBy(col("bench_doc"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"),
        countDistinct(col("gram_h")).as("n_shared_grams"))
  }

  /** Contamination EXCISION — the remediation [[decontaminationSpans]]
    * provides the evidence for: remove every token covered by a
    * benchmark-matching `n`-gram and rebuild the document, instead of
    * dropping it wholesale (the right call when a long document quotes
    * one eval item). One row per training document (clean documents pass
    * through with n_removed = 0); reconstruction restores original token
    * order, so clean documents' text survives byte-identical.
    *
    * Scale shape: the benchmark side broadcasts (eval-suite-sized
    * contract, as in [[decontaminateAgainst]]); matched gram starts
    * explode into ≤ n covered positions each; the anti-membership join is
    * equality-keyed on the composite (doc_id, pos); the rebuild is one
    * doc_id shuffle — the boilerplate-scrub reconstruction shape.
    */
  def exciseContamination(spark: SparkSession, sfDir: String,
      n: Int = 3, benchMod: Int = 97): DataFrame = {
    // spread the single-split documents table BEFORE the two compute-heavy
    // shingle+md5/posexplode pipelines below (Tables.documentsSpread: the
    // whole hot path otherwise runs as ONE serial task; StageMetrics r13:
    // 3.6 s steady → ~1.2 s). Gate-scale remedy only: a corpus-sized train
    // table already arrives in many splits, so the general operator below
    // takes its input's layout as-is.
    val spread = Tables.documentsSpread(spark, sfDir)
    exciseContaminationAgainst(
      spread.where(col("doc_id") % benchMod =!= 0),
      spread.where(col("doc_id") % benchMod === 0), n)
  }

  /** [[exciseContamination]] against an explicit benchmark table. */
  def exciseContaminationAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
      n: Int = 3): DataFrame = {
    import graft.functions.Text
    val bench = benchDocs
      .select(explode(Text.shingles(col("text"), n)).as("gram"))
      .select(Hashing.stableHash60(col("gram")).as("gram_h"))
      .distinct()
    val hits = trainDocs
      .select(col("doc_id"),
        posexplode(Text.shingles(col("text"), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"),
        Hashing.stableHash60(col("gram")).as("gram_h"))
      .join(broadcast(bench), Seq("gram_h"))
      .select(col("doc_id"), col("pos"))
    val covered = hits
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("cpos"))
      .distinct()
      .withColumn("cov", lit(1))
    trainDocs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .as("t")
      .join(covered.as("c"),
        col("t.doc_id") === col("c.doc_id") && col("t.pos") === col("c.cpos"),
        "left")
      .select(col("t.doc_id").as("doc_id"), col("t.pos").as("pos"),
        col("tok"), col("cov"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("cov"), lit(0))).cast("long").as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("cov").isNull, struct(col("pos"), col("tok"))))),
            s => s.getField("tok")), " ").as("clean_text"))
  }

  /** Quality-aware canonical selection: within each near-dup component,
    * keep the HIGHEST-model-score member (doc_id tiebreak) instead of the
    * min-label convenience canonical the resolver emits — the production
    * keep policy ("of these duplicates, keep the cleanest copy"), and the
    * text-side twin of q86's SemDeDup least-central rule. One row per
    * document with its component, score, and keep flag; singletons keep
    * themselves.
    *
    * Scale shape: the memoized component table joins the map-side score
    * projection; the argmax is a map-side-combinable `max_by` keyed on
    * component (never a window over the corpus), broadcast back onto the
    * doc-sized frame.
    */
  def qualityCanonical(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val scored = dedupComponents(spark, sfDir, threshold)
      .join(Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          graft.functions.Text.modelScore(col("text")).as("model_score")),
        "doc_id")
    val best = scored.groupBy(col("component"))
      .agg(max_by(col("doc_id"),
        struct(col("model_score"), -col("doc_id"))).as("keep_doc"))
    scored.join(best, "component")
      .select(col("doc_id"), col("component"), col("model_score"),
        (col("doc_id") === col("keep_doc")).cast("int").as("keep"))
  }

  /** Leakage-AWARE train/val/test split: the whole near-dup component
    * draws ONE split from a pinned hash of its component id, so both ends
    * of every near-dup pair land on the same side of the cut by
    * construction — the repair for exactly the leakage [[splitLeakage]]
    * (q89) measures on the content-blind per-document draw (q82). This is
    * the split every serious pipeline uses: dedup-cluster-level, not
    * document-level (near-dup val docs leaking into train inflate eval).
    *
    * Scale shape: the memoized component table joins the doc frame on
    * doc_id (equality shuffle), then the draw is a pure map-side hash of
    * the component id — no window, no extra shuffle beyond the resolver's.
    */
  def leakageAwareSplit(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val draw = pmod(Hashing.stableHash32(
      concat(lit("csplit:"), col("component").cast("string"))), lit(1000L))
    Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
      .join(dedupComponents(spark, sfDir, threshold), "doc_id")
      .select(col("doc_id"), col("source"), col("component"),
        when(draw < 900, "train").when(draw < 950, "val")
          .otherwise("test").as("split"))
  }

  /** INCREMENTAL connected components: resolve a new batch of near-dup
    * edges against ALREADY-RESOLVED history components without touching
    * history edges — contraction: each history (doc → component) row IS an
    * edge to its label vertex, so propagating min-labels over
    * {history-label edges} ∪ {new-batch pairs} reproduces exactly the
    * full-recompute labels (contraction preserves connectivity, and the
    * min-doc_id label of a merged cluster is the min over its parts).
    * This is how a 100 TB ingest keeps its duplicate graph current: the
    * history side enters as ONE row per document (its label edge), never
    * as its original pair list — the resolver's work scales with the
    * batch, not the corpus history.
    *
    * History/batch split mirrors q116's cross-parity recipe: "history" =
    * pairs with both ends doc_id % 5 != 0, "batch" = the rest. The gate
    * proves the theorem: output is hash-identical to q50's full recompute
    * (same oracle).
    */
  def incrementalComponents(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"))
    val isHist = (col("doc1") % 5 =!= 0) && (col("doc2") % 5 =!= 0)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"))
    // resolve history alone (in production this table already exists)
    val hist = connectedComponents(pairs.where(isHist),
      docs.where(col("doc_id") % 5 =!= 0))
    incrementalComponentsOf(hist, pairs.where(!isHist), docs)
  }

  /** [[incrementalComponents]]' core: merge `batchPairs` into an existing
    * (doc_id, component) resolution by contracting each history row to a
    * single label edge. `allDocs` spans history ∪ batch.
    */
  def incrementalComponentsOf(history: DataFrame, batchPairs: DataFrame,
      allDocs: DataFrame): DataFrame = {
    // contraction edges: doc → its resolved label (self-loops drop out)
    val labelEdges = history.where(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("doc1"), col("component").as("doc2"))
    connectedComponents(
      labelEdges.union(batchPairs.select(col("doc1"), col("doc2"))), allDocs)
  }

  /** Chain-link-hardened component resolution: [[dedupComponents]]
    * restricted to edges with triangle support ≥ 1 ([[edgeSupport]]) —
    * drops exactly the weak transitive joints, so mirror FAMILIES (whose
    * edges sit in triangles) still collapse while chain-merged
    * heterogeneous clusters break back apart. The conservative resolver a
    * pipeline switches to when q105's cluster stats show implausibly
    * large components.
    *
    * Scale shape: the support filter is a map-side predicate on the
    * already-computed q143 table; the resolution is the same
    * edge-touched-only iteration as q50.
    */
  def supportedComponents(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    connectedComponents(
      edgeSupport(spark, sfDir, threshold)
        .where(col("support") >= 1)
        .select(col("doc1"), col("doc2")),
      Tables.documents(spark, sfDir).select(col("doc_id")))

  /** Mixture epoch plan: the per-domain up/down-sampling factors a
    * pre-training run derives from pinned target shares
    * ([[DomainTargets]]) and a token budget (`budgetPct`% of the corpus) —
    * epochs_i = min(cap, budget·share_i / tokens_i), the "how many passes
    * over each domain" table (q57/q78 pick the RATE, q104 picks the
    * DOCUMENTS; this picks the PASSES — the LLaMA-style mixture recipe's
    * third axis). Sources with epochs > 1 are up-sampled (repeated), the
    * rest down-sampled.
    *
    * Determinism: token counts and the budget are exact longs (integer
    * DIV), epochs is a ×10⁶ fixed-point truncating division capped at 4 —
    * no float until the final display column. Scale shape: one map-side
    * token count into a |sources|-row aggregate; everything after is
    * metadata-sized. */
  def mixtureEpochPlan(spark: SparkSession, sfDir: String,
      budgetPct: Int = 150, capFp: Long = 4000000L): DataFrame = {
    val t = spark.createDataFrame(DomainTargets).toDF("source", "target_share")
    val perSrc = Tables.documents(spark, sfDir)
      .select(col("source"),
        size(graft.functions.Text.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
    val budget = perSrc.agg(sum(col("n_tokens")).as("total_tokens"))
      .select(expr(s"(total_tokens * ${budgetPct}L) DIV 100").as("budget"))
    perSrc.crossJoin(broadcast(budget)).join(broadcast(t), "source")
      .withColumn("target_tokens",
        round(col("budget") * col("target_share")).cast("long"))
      .withColumn("epochs_fp",
        least(lit(capFp), expr("(target_tokens * 1000000L) DIV n_tokens")))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("target_share"), col("target_tokens"),
        round(col("epochs_fp").cast("double") / 1e6, 6).as("epochs"),
        (col("epochs_fp") > 1000000L).cast("int").as("upsampled"))
  }

  /** Shard MIXING audit over the packed layout: for each shard, the rate
    * at which consecutive documents (in [[shardManifest]]'s read order)
    * share a source, against the expected rate under a random permutation
    * — Σ c_s(c_s−1)/(n(n−1)) over the shard's source counts. A trainer
    * streams shards sequentially, so a clumpy shard (ratio ≫ 1) feeds
    * the model long single-source runs — exactly what curriculum
    * shuffling is supposed to prevent; this gate measures it instead of
    * assuming it. q109 audits the PACKING (bin utilization); this audits
    * the COMPOSITION ORDER.
    *
    * Determinism: counts are exact integers; observed/expected rates and
    * their ratio evaluate in IEEE doubles with identical op order both
    * sides; all-unique-source shards have expected = 0 → null ratio.
    *
    * Scale shape: the manifest joins sources doc-keyed; adjacency is one
    * per-shard window over start_offset (per-shard, never global — the
    * q52 contract); both rollups are shard-keyed aggregates.
    */
  def shardMixing(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame =
    shardMixingOf(shardManifest(spark, sfDir, capacity, nShards)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("source")),
        "doc_id"))

  /** [[shardMixing]] over an arbitrary (shard, start_offset, source)
    * frame — the fixture-testable core.
    */
  def shardMixingOf(m: DataFrame): DataFrame = {
    // ONE evaluation of m (the manifest⋈documents join is the expensive
    // subtree): the adjacency stats ride the same (shard, source) grain
    // as the composition stats — the lag window assigns prev_source,
    // then a two-level aggregate derives both. A shard with n_docs ≥ 2
    // always has adjacent rows (its per-shard order is total), so the
    // pre-r17 inner join adj⋈comp never dropped a surviving shard.
    val w = Window.partitionBy(col("shard")).orderBy(col("start_offset"))
    val bySource = m.withColumn("prev_source", lag(col("source"), 1).over(w))
      .groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("prev_source").isNotNull, 1L).otherwise(0L)).as("adj"),
        // NOT coalesced: sum skips the null (prev-null or null-source)
        // terms at both levels, exactly like the single-level old sum
        sum((col("source") === col("prev_source")).cast("long")).as("same"))
    val agg = bySource.groupBy(col("shard"))
      .agg(sum(col("c")).as("n_docs"),
        sum(col("c") * (col("c") - lit(1))).as("ssq"),
        sum(col("adj")).as("n_adjacent"),
        sum(col("same")).as("n_same"))
    val obs = col("n_same").cast("double") / col("n_adjacent").cast("double")
    val exp0 = col("ssq").cast("double") /
      (col("n_docs") * (col("n_docs") - lit(1))).cast("double")
    agg
      .where(col("n_docs") >= 2)
      .select(col("shard"), col("n_docs"), col("n_adjacent"), col("n_same"),
        round(obs, 6).as("same_rate"),
        round(exp0, 6).as("expected_rate"),
        when(col("ssq") > 0, round(obs / exp0, 6)).as("mixing_ratio"))
  }

  /** Dedup–quality link: mean model score of documents that participate
    * in ≥ 1 near-dup pair vs documents that don't — the two-row evidence
    * behind a standing curation belief (mirrored/templated content scores
    * worse than unique content). If the gap is real, dedup priority can
    * follow quality; if it isn't, near-dup pruning must NOT be sold as a
    * quality filter. Two rows, exact counts, fixed-point mean of the
    * 6-dp model scores.
    *
    * Scale shape: the distinct pair-member set is doc-keyed off the
    * memoized pair list; one left join against the scored corpus and a
    * 2-group aggregate — nothing corpus² anywhere.
    */
  def dedupQualityLink(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir, threshold)
    val dup = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2").as("doc_id"))).distinct()
      .withColumn("flag", lit(1))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Text.modelScore(col("text")).as("model_score"))
      .join(dup, Seq("doc_id"), "left")
      .groupBy(coalesce(col("flag"), lit(0)).as("is_dup"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(round(col("model_score") * 1e6).cast("long")).cast("double")
          / (count(lit(1)) * lit(1e6)), 6).as("mean_score"))
  }

  /** Exact triangle participation counts over the near-dup graph — the
    * graph-density signal that separates tight mirror FAMILIES (cliques:
    * every member pairwise-similar) from chain-shaped false-positive
    * components (paths: no triangles), which [[dedupComponents]] cannot
    * distinguish. One row per document in ≥1 triangle.
    *
    * The MapReduce-canonical degree-ordered orientation (Suri &
    * Vassilvitskii, WWW 2011; Cohen's MR graph kernels): orient every
    * edge from its (degree, id)-smaller endpoint, build wedges only at
    * each triangle's unique lowest vertex, close against the canonical
    * pair list. Out-degrees under this orientation are O(√m), so the
    * wedge stage — the only superlinear step — is bounded regardless of
    * hub vertices; every shuffle is equality-keyed (vertex or pair).
    */
  def triangleCounts(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    trianglesTable(spark, sfDir, threshold)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))

  /** The corpus triangle list, memoized per session — q134, q143, and
    * q145 all consume it, and the wedge join (the expensive step) must
    * run once, not three times.
    */
  private def trianglesTable(spark: SparkSession, sfDir: String,
      threshold: Double): DataFrame =
    SessionMemo.durable(spark, sfDir, s"triangles|$sfDir|$threshold") {
      trianglesOf(Dedup.minhashPairs(spark, sfDir, threshold)
        .select(col("doc1"), col("doc2")))
    }

  /** [[triangleCounts]] over an arbitrary canonical (doc1 < doc2) pair
    * list — the fixture-testable core.
    */
  def triangleCountsOf(pairs: DataFrame): DataFrame =
    trianglesOf(pairs)
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))

  /** Degree-ordered triangle enumeration (one row per triangle, each
    * exactly once) — shared by [[triangleCountsOf]] and
    * [[edgeSupportOf]].
    */
  private def trianglesOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc1").as("u"), col("doc2").as("v"))
      .union(pairs.select(col("doc2").as("u"), col("doc1").as("v")))
    val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .select(col("u").as("node"), col("deg"))
    val oriented = edges
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .where(col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v")))
      .select(col("u"), col("v"))
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
    wedges.join(pairs,
        col("b") === col("doc1") && col("c") === col("doc2"))
      .select(col("a"), col("b"), col("c"))
  }

  /** Edge support (embeddedness): for every near-dup pair, the number of
    * triangles it sits in — i.e. common near-dup neighbors of its two
    * endpoints. Support-0 edges are the CHAIN LINKS: the weak transitive
    * joints through which connected components glue genuinely different
    * content into one cluster (the known failure mode of
    * transitive-closure dedup). The production use: resolve components
    * over support ≥ 1 edges only, or route support-0 edges to exact
    * verification before trusting them.
    *
    * Scale shape: triangle enumeration is [[trianglesOf]] (O(√m)
    * out-degrees); crediting explodes each triangle to its 3 canonical
    * edges and counts — equality-keyed on the edge; the final left join
    * keeps support-0 edges visible.
    */
  def edgeSupport(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"edgeSupport|$sfDir|$threshold") {
      supportTail(
        Dedup.minhashPairs(spark, sfDir, threshold)
          .select(col("doc1"), col("doc2")),
        trianglesTable(spark, sfDir, threshold))
    }

  /** [[edgeSupport]] over an arbitrary canonical pair list. */
  def edgeSupportOf(pairs: DataFrame): DataFrame =
    supportTail(pairs, trianglesOf(pairs))

  private def supportTail(pairs: DataFrame, triangles: DataFrame): DataFrame = {
    // a is DEGREE-lowest, not id-lowest — canonicalize each edge by id
    def edge(x: String, y: String) =
      struct(least(col(x), col(y)).as("doc1"),
        greatest(col(x), col(y)).as("doc2"))
    val credit = triangles
      .select(explode(array(edge("a", "b"), edge("a", "c"), edge("b", "c"))).as("e"))
      .groupBy(col("e.doc1").as("doc1"), col("e.doc2").as("doc2"))
      .agg(count(lit(1)).as("support"))
    pairs.join(credit, Seq("doc1", "doc2"), "left")
      .select(col("doc1"), col("doc2"),
        coalesce(col("support"), lit(0L)).as("support"),
        (coalesce(col("support"), lit(0L)) === 0L).cast("int").as("is_chain_link"))
  }

  /** Local clustering coefficient over the near-dup graph: for every
    * document with ≥ 2 near-dup neighbors, lcc = 2·T/(d·(d−1)) — the
    * per-node density reading of [[triangleCounts]]. lcc ≈ 1 marks a
    * mirror FAMILY member (its neighborhood is a clique: resolve the
    * whole component to one canonical); lcc ≈ 0 marks a transitive HUB
    * (its neighbors are pairwise dissimilar — the chain-merge false
    * positive [[edgeSupport]] flags edge-by-edge, read node-by-node).
    * Degree-1 nodes carry no signal (0/0) and are excluded.
    *
    * Determinism: T and d are exact integers; the one division rounds at
    * 6 dp. Scale shape: triangles come from the memoized session table
    * (the q134/q143/q145 share); degrees are one equality-keyed
    * aggregate over the pair list; the left join is doc-keyed.
    */
  def clusteringCoefficient(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    lccTail(
      Dedup.minhashPairs(spark, sfDir, threshold)
        .select(col("doc1"), col("doc2")),
      trianglesTable(spark, sfDir, threshold))

  /** Near-dup component SIZE histogram: how many components have exactly
    * k members, with the doc mass each size class holds — the power-law
    * read on [[dedupComponents]] that q105's per-component rows
    * aggregate away (one glance answers "is duplication a long tail of
    * pairs or a few mega-mirrors", which decides whether q84-style
    * broadcast hedges are live risks).
    *
    * Scale shape: two hash-keyed count rollups over the memoized
    * component table; output bounded by the largest component size —
    * bins, never docs.
    */
  def componentSizeHistogram(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame =
    dedupComponents(spark, sfDir, threshold)
      .groupBy(col("component")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
      .select(col("size"), col("n_components"),
        (col("size") * col("n_components")).as("n_docs"))

  /** [[clusteringCoefficient]] over an arbitrary canonical (doc1 < doc2)
    * pair list — the fixture-testable core.
    */
  def clusteringCoefficientOf(pairs: DataFrame): DataFrame =
    lccTail(pairs, trianglesOf(pairs))

  /** Degree assortativity of the near-dup graph (Newman, PRL 2002): the
    * Pearson correlation of endpoint degrees over the directed edge list.
    * r > 0 means high-degree docs link to high-degree docs — duplication
    * concentrated in dense mirror families that component resolution
    * collapses cheaply; r < 0 means hubs link to leaves — star-shaped
    * template graphs whose hubs are the q143 chain-link risk. One number
    * that says which failure mode this corpus's duplication has.
    *
    * Determinism: over the symmetrized edge list the x- and y-marginals
    * are IDENTICAL (each undirected edge contributes its endpoints to
    * both sides), so with Sx = Σdx = Σdy and Sxx = Σdx² = Σdy² Pearson
    * reduces to the pure integer
    * ratio (n·Σdxdy − Sx·Sx)/(n·Sxx − Sx·Sx); every sum accumulates as
    * decimal(38,0) (degree products overflow longs on mirror-heavy
    * graphs), and only the final division is floating point, rounded at
    * 6 dp. Degenerate regular graphs (all degrees equal, e.g. a corpus
    * whose components are all pairs) have zero variance → NULL.
    *
    * Scale shape: degrees are one map-side-combinable count over the
    * memoized pair list; the two degree lookups are equality joins on
    * doc_id; the final aggregate is a single partial-aggregated row.
    */
  def degreeAssortativity(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir, threshold)
      .select(col("doc1"), col("doc2"))
    degreeAssortativityOf(pairs)
  }

  /** [[degreeAssortativity]] over an arbitrary canonical pair list. */
  def degreeAssortativityOf(pairs: DataFrame): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) =
      c.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
    val deg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("deg"))
    val sums = edges
      .join(deg.select(col("doc_id").as("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("doc_id").as("dst"), col("deg").as("dy")), Seq("dst"))
      .agg(count(lit(1)).as("n_edges"),
        sum(dec(col("dx"))).as("sx"),
        sum(dec(col("dx")) * col("dx")).as("sxx"),
        sum(dec(col("dx")) * col("dy")).as("sxy"))
    val num = dec(col("n_edges")) * col("sxy") - col("sx") * col("sx")
    val den = dec(col("n_edges")) * col("sxx") - col("sx") * col("sx")
    sums.select(col("n_edges"),
      when(den === 0, lit(null).cast("double"))
        .otherwise(round(num.cast("double") / den.cast("double"), 6))
        .as("assortativity"))
  }

  /** Bounded k-core of the near-dup graph by iterative peeling: repeatedly
    * delete vertices of degree < k (with their incident edges) for a FIXED
    * number of rounds. The 2-core is the subgraph carrying every cycle —
    * the standard pruning stage before dense-subgraph mining (Batagelj &
    * Zaveršnik's peeling, distributed one-round-per-pass form): tree-like
    * fringe documents leave, and what remains are the mutually-reinforced
    * duplicate clusters worth a resolver's attention.
    *
    * Output: survivors after `rounds` peels with their in-core degree, and
    * a `converged` flag (1 ⇔ the final degree table has no vertex below k,
    * i.e. the result IS the true k-core, not a bounded approximation —
    * the same bounded-iteration honesty contract as q91's pagerank).
    *
    * Scale shape per round: one map-side-combinable degree aggregate and
    * two left-semi equality joins filtering the edge list — the same
    * edge-touched iteration as [[connectedComponents]]; `localCheckpoint`
    * truncates lineage so the plan stays constant-size. Peeling is
    * monotone (alive sets only shrink), so the fixpoint is unique and
    * order-independent — the DuckDB unrolled-CTE oracle reproduces it
    * exactly.
    */
  def kCore(spark: SparkSession, sfDir: String, k: Int = 2,
      rounds: Int = 8): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2"))
    kCoreOf(pairs, k, rounds)
  }

  /** [[kCore]] over an arbitrary canonical pair list — the fixture-testable
    * core.
    */
  def kCoreOf(pairs: DataFrame, k: Int = 2, rounds: Int = 8): DataFrame = {
    var edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    for (_ <- 0 until rounds) {
      val alive = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select(col("src").as("v"))
      edges = edges
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    val deg = edges.groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_deg"))
    val conv = deg.agg(
      when(sum(when(col("core_deg") < k, 1).otherwise(0)) === 0, 1)
        .otherwise(0).cast("int").as("converged"))
    deg.crossJoin(broadcast(conv))
      .select(col("doc_id"), col("core_deg"), col("converged"))
  }

  private def lccTail(pairs: DataFrame, triangles: DataFrame): DataFrame = {
    val deg = pairs.select(col("doc1").as("doc_id"))
      .union(pairs.select(col("doc2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tri = triangles
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_triangles"))
    deg.where(col("degree") >= 2)
      .join(tri, Seq("doc_id"), "left")
      .select(col("doc_id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(lit(2.0) * coalesce(col("n_triangles"), lit(0L))
          / (col("degree") * (col("degree") - lit(1))), 6).as("lcc"))
  }

  /** Quality-weighted sample WITHOUT replacement via exponential clocks
    * (Efraimidis & Spirakis, IPL 2006 — the distributed-standard
    * one-pass weighted draw): key_i = −ln(u_i)/w_i with u_i a pinned-hash
    * uniform and w_i a positive weight monotone in the model score; the k
    * SMALLEST keys are the sample. Exactly the draw a curation pipeline
    * uses to over-sample high-quality documents while keeping every
    * document reachable — and it's reproducible: no RNG, the "randomness"
    * is the md5 of the doc key (re-running cannot change the sample).
    *
    * Determinism: u is an exact dyadic rational from a 32-bit hash; w
    * sits on the 6-dp score grid (shifted +2 so the worst score stays
    * positive); ln is the one transcendental — the q90/q94 precedent,
    * both engines agreeing through a 6-dp round with doc_id tiebreak.
    *
    * Scale shape: one map-side pass computes keys; the selection is a
    * TakeOrderedAndProject k-heap — no global sort, no shuffle at all
    * beyond the k·P-row driver merge.
    */
  def weightedSample(spark: SparkSession, sfDir: String,
      k: Int = 100): DataFrame = {
    val u = (Hashing.stableHash32(
      concat(lit("wsample:"), col("doc_id").cast("string"))) + 1L)
      .cast("double") / lit(4294967296.0)
    val w = graft.functions.Text.modelScore(col("text")) + lit(2.0)
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        round(w, 6).as("weight"),
        round(-log(u) / w, 6).as("sample_key"))
      .orderBy(col("sample_key"), col("doc_id"))
      .limit(k)
  }

  /** Split-homogeneity audit: unigram KL divergence of each
    * train/val/test split ([[trainValTestSplit]]'s pinned-hash draw) from
    * the whole corpus — [[graft.analytics.TextAnalytics.sourceKlDriftOf]]
    * with the split tag standing in for the source. A sound random split
    * sits near zero on every row; a split that accidentally correlates
    * with content (hashing a biased key, a buggy stratifier) shows up
    * here before a model trains on it.
    */
  def splitDriftAudit(spark: SparkSession, sfDir: String): DataFrame =
    graft.analytics.TextAnalytics.sourceKlDriftOf(
      Tables.documents(spark, sfDir)
        .join(trainValTestSplit(spark, sfDir).select(col("doc_id"), col("split")),
          "doc_id")
        .select(col("split").as("source"), col("text")))
      .withColumnRenamed("source", "split")

  /** Per-shard content checksums over the packed [[shardManifest]] — the
    * release-integrity artifact shipped next to the shards: document
    * count, token mass, and an ORDER-INDEPENDENT content checksum (the
    * sum of every member's 60-bit md5-prefix hash, carried as
    * DECIMAL(38,0) internally so it cannot overflow at any shard size,
    * then reduced mod 10¹² so the shipped value is a plain int64 — the
    * only integer type every engine, file format, and comparison harness
    * renders identically; a >64-bit digit string survives SQL engines but
    * not type-coercing readers). A reader re-derives the same number from
    * the bytes on disk in any read order — which is why the checksum is a
    * commutative sum and NOT an md5 of a concatenation: hashing a
    * concatenated list would need the whole shard collected in order (the
    * collect_list-per-shard trap at a million documents per shard).
    *
    * Scale shape: one join of the memoized manifest to the doc-hash
    * projection, one shard-keyed aggregate with map-side partials.
    */
  def shardChecksums(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val checksumMod = 1000000000000L
    // documentsSpread: the per-doc content hash is the query's map work
    // and the one-split gate scan would run it single-task
    val hashes = Tables.documentsSpread(spark, sfDir)
      .select(col("doc_id"), Hashing.stableHash60(col("text")).cast(dec).as("h"))
    shardManifest(spark, sfDir, capacity, nShards)
      .join(hashes, "doc_id")
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        (sum(col("h")) % lit(checksumMod).cast(dec)).cast("long")
          .as("content_checksum"))
  }

  /** Dataset-release SNAPSHOT DIFF: per source, how many documents were
    * added, removed, changed (same id, different content hash), or
    * untouched between two corpus versions — the release-notes table a
    * data lead signs before a new crawl snapshot ships, and the input to
    * "retrain or patch" decisions. The mock carves v1/v2 out of the
    * corpus by modulus and revises a slice of v2's texts; production
    * calls [[snapshotDiffAgainst]] with its real versioned frames.
    *
    * Scale shape: both sides project to (doc_id, source, md5) before the
    * one full-outer equality join on doc_id — at warehouse scale the two
    * versions land hash-bucketed on doc_id, making that join co-located
    * (zero shuffle); the rollup is |sources|-keyed.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    snapshotDiffAgainst(
      docs.where(col("doc_id") % 7 =!= 1),
      docs.where(col("doc_id") % 5 =!= 2)
        .withColumn("text",
          when(col("doc_id") % 11 === 3, concat(col("text"), lit(" [rev]")))
            .otherwise(col("text"))))
  }

  /** [[snapshotDiff]] against explicit (doc_id, source, text) frames. */
  def snapshotDiffAgainst(v1: DataFrame, v2: DataFrame): DataFrame = {
    def proj(d: DataFrame, tag: String) = d.select(col("doc_id"),
      col("source").as(s"source_$tag"), md5(col("text")).as(s"h_$tag"))
    proj(v1, "a").join(proj(v2, "b"), Seq("doc_id"), "full")
      .select(coalesce(col("source_a"), col("source_b")).as("source"),
        when(col("h_a").isNull, "added")
          .when(col("h_b").isNull, "removed")
          .when(col("h_a") =!= col("h_b"), "changed")
          .otherwise("unchanged").as("st"))
      .groupBy(col("source"))
      .agg(sum(when(col("st") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("st") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("st") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("st") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
  }

  /** One-row DATASET CARD: the headline numbers of a corpus release —
    * document/token/source/language counts, the fraction of documents in
    * a near-dup relation, the keep rate of the composed q61 verdict, and
    * the corpus mean of the pinned q69 model score — the datasheet
    * summary every downstream consumer reads first. Rolls up the
    * memoized pair list and verdict, so in a session that already ran
    * q25/q61 this costs one corpus scan for the count row.
    *
    * Determinism: counts are exact; the mean model score sums ×10⁶
    * fixed-point longs (each score is already rounded at 6 dp by
    * construction) and divides once.
    *
    * Scale shape: one map-side-combinable corpus aggregate, pair-sized
    * and doc-sized rollups of memoized tables, one-row broadcasts.
    */
  def datasetCard(spark: SparkSession, sfDir: String,
      threshold: Double = 0.7): DataFrame = {
    // documentsSpread: the base aggregate runs modelScore over every doc
    // and the one-split gate scan would run it in a single task; the
    // aggregate is map-side combinable so the spread costs one narrow
    // exchange (skipped at scale — spreadBy)
    val docs = Tables.documentsSpread(spark, sfDir)
    val base = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(round(graft.functions.Text.modelScore(col("text")) * 1e6, 0)
        .cast("long")).as("score_fp"))
    val mp = Dedup.minhashPairs(spark, sfDir, threshold)
    val nd = mp.select(col("doc1").as("doc_id"))
      .unionByName(mp.select(col("doc2").as("doc_id")))
      .distinct().agg(count(lit(1)).as("n_neardup_docs"))
    val kept = curationDecisions(spark, sfDir)
      .agg(sum(col("keep").cast("long")).as("n_kept"))
    base.crossJoin(broadcast(nd)).crossJoin(broadcast(kept))
      .select(col("n_docs"), col("n_tokens"), col("n_sources"),
        col("n_langs"), col("n_neardup_docs"), col("n_kept"),
        round(col("n_neardup_docs").cast("double") / col("n_docs"), 6)
          .as("neardup_frac"),
        round(col("n_kept").cast("double") / col("n_docs"), 6)
          .as("keep_frac"),
        round(col("score_fp").cast("double") / 1e6 / col("n_docs"), 6)
          .as("mean_model_score"))
  }

  /** Train-split n-gram COVERAGE curve: for n = 1..4, the fraction of the
    * test split's distinct n-grams that also occur in the train split —
    * the generalization-gap proxy read top-down: unigram coverage near 1
    * says the test vocabulary is known; the n where coverage collapses is
    * the longest context length the train split actually teaches. The
    * inverse view of q89 (which counts test grams that leak; this
    * measures how much of the test DISTRIBUTION the train split spans).
    *
    * Determinism: pinned-hash split (q82), integer counts, one rounded
    * division per n.
    *
    * Scale shape (r16): ONE corpus pass — the four n-gram lengths explode
    * together as (n, gram_h) pairs, so the text is scanned, split-joined,
    * and tokenized once instead of four times, and the four gram-keyed
    * shuffles collapse into one keyed on (n, gram_h) (same total gram
    * rows — per-n aggregates stay independent because n is in the key;
    * optimization guide §2.4 "remove shuffles outright"). The final
    * rollup re-joins a literal 1..maxN spine so an n with zero test
    * grams still emits its (n, 0, null, null) row exactly like the old
    * per-branch global aggregate. r13→r16 history: the branches were
    * first serial-task explodes (fixed by documentsSpread), then four
    * spread-but-redundant corpus passes (measured 3.1 s warm / 7.6 s
    * cold at sf0.1; single-pass form 2.0 s warm).
    */
  def splitCoverageCurve(spark: SparkSession, sfDir: String,
      maxN: Int = 4): DataFrame = {
    // documentsSpread: the n-gram explode otherwise runs as a single
    // serial task on the single-split gate corpus (StageMetrics r13)
    val docs = Tables.documentsSpread(spark, sfDir)
      .join(trainValTestSplit(spark, sfDir).select(col("doc_id"), col("split")),
        "doc_id")
      .where(col("split").isin("train", "test"))
    val spark2 = spark
    import spark2.implicits._
    val tagged = (1 to maxN).map { n =>
      transform(graft.functions.Text.shingles(col("text"), n),
        g => struct(lit(n).as("n"), Hashing.stableHash60(g).as("gram_h")))
    }
    val curve = docs
      .select(col("split"),
        explode(flatten(array(tagged: _*))).as("g"))
      .groupBy(col("g.n").as("n"), col("g.gram_h").as("gram_h"))
      .agg(max(when(col("split") === "train", 1).otherwise(0)).as("in_train"),
        max(when(col("split") === "test", 1).otherwise(0)).as("in_test"))
      .where(col("in_test") === 1)
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_test_grams"),
        sum(col("in_train")).cast("long").as("n_covered"))
    (1 to maxN).toDF("n")
      .join(curve, Seq("n"), "left")
      .select(col("n"), coalesce(col("n_test_grams"), lit(0L)).as("n_test_grams"),
        col("n_covered"),
        round(col("n_covered").cast("double") / col("n_test_grams"), 6)
          .as("coverage"))
  }

  /** Bin-boundary STRADDLE audit over the packed [[shardManifest]]: per
    * shard, how many kept documents start in one training bin and spill
    * into the next (`start_offset + n_tokens` past the bin edge), and how
    * many tokens sit past the first crossed boundary. Gapless sequential
    * packing wastes zero capacity by construction — its real cost is
    * exactly this: a straddling document is CHOPPED across training
    * sequences, so the model sees its tail with a truncated context. The
    * straddle fraction and cut-token mass are the numbers that decide
    * between gapless packing and pad-to-boundary (waste tokens) or
    * best-fit binning (lose sequential locality).
    *
    * Determinism: pure integer arithmetic on the manifest.
    *
    * Scale shape: one map-side pass over the memoized manifest into
    * |shards| rows.
    */
  def packingStraddleAudit(spark: SparkSession, sfDir: String,
      capacity: Int = 2048, nShards: Int = 8): DataFrame = {
    val binEnd = (col("bin_id") + 1) * capacity
    val endOff = col("start_offset") + col("n_tokens")
    shardManifest(spark, sfDir, capacity, nShards)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        sum(when(endOff > binEnd, 1L).otherwise(0L)).as("n_straddling"),
        sum(when(endOff > binEnd, endOff - binEnd).otherwise(0L))
          .as("tokens_cut"))
      .withColumn("straddle_frac",
        round(col("n_straddling").cast("double") / col("n_docs"), 6))
  }

  /** Benchmark decontamination scan: flag training documents sharing any
    * word `n`-gram with the held-out benchmark slice (docs whose id is
    * divisible by `benchMod` stand in for an eval set). Output per training
    * doc: distinct n-gram count, how many of them appear in the benchmark
    * set, and a 0/1 contaminated flag — the n-gram-overlap decontamination
    * pass every pre-training pipeline runs before the data ships.
    *
    * Scale shape: a REAL benchmark set is eval-suite-sized (thousands of
    * docs), so [[decontaminateAgainst]] broadcasts it — the 100 TB training
    * side streams once through a map-side hash lookup, no shuffle on the
    * n-gram key at all; the only shuffle is the per-doc rollup. NOTE the
    * `benchMod` mock used here for verification carves the bench slice out
    * of the corpus itself, making it corpus-PROPORTIONAL (1/benchMod of
    * all n-grams) — fine at test scale, but at 100 TB pass the actual
    * external benchmark table to [[decontaminateAgainst]] instead (and if
    * a bench set ever outgrows the broadcast threshold, drop the explicit
    * broadcast and let the join shuffle on gram_h).
    */
  def decontaminate(spark: SparkSession, sfDir: String,
      n: Int = 8, benchMod: Int = 97): DataFrame =
    // memoized: q56 and the composed q61 verdict share one gram pass
    SessionMemo.durable(spark, sfDir, s"decontaminate|$sfDir|$n|$benchMod") {
      val docs = Tables.documents(spark, sfDir)
      decontaminateAgainst(
        docs.where(col("doc_id") % benchMod =!= 0),
        docs.where(col("doc_id") % benchMod === 0), n)
    }

  /** [[decontaminate]] against an explicit benchmark table — the form a
    * production pipeline calls with its (small, external) eval suite.
    *
    * Grams are hashed to the 60-bit md5-prefix long that DuckDB reproduces
    * (the oracle gate); verdicts depend only on gram-hash EQUALITY.
    */
  def decontaminateAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
      n: Int = 8): DataFrame = {
    // grams shuffle as 60-bit md5-prefix longs, not ~60-byte strings: the
    // (doc, gram) distinct dominates at corpus scale and 8-byte keys cut
    // its shuffle bytes ~4× (measured 18.9 → 14.4 s at 100k docs locally —
    // the remaining cost is md5 itself, kept for engine-portable
    // verification). Both engines hash md5 identically, so the oracle is
    // exact.
    def grams(d: DataFrame): DataFrame = d
      .select(col("doc_id"),
        explode(graft.functions.Text.shingles(col("text"), n)).as("gram"))
      .select(col("doc_id"), Hashing.stableHash60(col("gram")).as("gram_h"))
    val bench = grams(benchDocs)
      .select(col("gram_h")).distinct().withColumn("hit", lit(1))
    grams(trainDocs).distinct()
      .join(broadcast(bench), Seq("gram_h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_contaminated"),
        max(coalesce(col("hit"), lit(0))).cast("int").as("contaminated"))
  }

  /** [[decontaminate]]'s mock-benchmark corpus form, executed through the
    * Bloom-prefilter plan of [[decontaminateBloomAgainst]] — oracle-gated
    * against the SAME truth as q56 (the Bloom stage can only admit extra
    * candidates; the exact verify removes them, so outputs are identical).
    */
  def decontaminateBloom(spark: SparkSession, sfDir: String,
      n: Int = 8, benchMod: Int = 97): DataFrame =
    SessionMemo.durable(spark, sfDir, s"decontaminateBloom|$sfDir|$n|$benchMod") {
      val docs = Tables.documents(spark, sfDir)
      decontaminateBloomAgainst(
        docs.where(col("doc_id") % benchMod =!= 0),
        docs.where(col("doc_id") % benchMod === 0), n)
    }

  /** [[decontaminateAgainst]] restructured for the regime where the
    * benchmark gram set is too big to broadcast as an exact hash table
    * (multi-benchmark suites, paragraph-level grams): without a sketch the
    * exact join must shuffle the ENTIRE corpus gram stream on gram_h — the
    * scale-killer. This plan instead:
    *
    *  1. reduces the bench side to a fixed-size Bloom sketch with Spark's
    *     native `BloomFilterAggregate` (map-side-mergeable; one binary
    *     reaches the driver — metadata-sized, like the reference's
    *     anchor-date collect) and re-embeds it as a literal, exactly how
    *     Spark's own runtime-filter injection ships blooms to scans;
    *  2. derives each document's distinct gram hashes IN-ROW
    *     (`array_distinct` on the shingle array) — the corpus-wide
    *     `(doc_id, gram_h) DISTINCT` shuffle of the exact path disappears,
    *     and the per-doc total (`n_ngrams`) is a pure map-side projection;
    *  3. prefilters corpus grams with codegen'd `might_contain` — clean
    *     grams (the overwhelming majority) die map-side; only Bloom
    *     survivors enter the exact equality join (unhinted: AQE broadcasts
    *     it at test scale, shuffles survivors-only at real scale), so false
    *     positives are removed and the output matches the exact plan
    *     bit-for-bit;
    *  4. stitches survivor hit-counts back with one doc-sized left join.
    *
    * The corpus text is scanned twice (totals + candidates) — at 100 TB
    * two parallel scans beat persisting a corpus-sized gram table, and the
    * totals branch exists only because the contract reports `n_ngrams`;
    * drop that column and the totals scan goes with it.
    */
  def decontaminateBloomAgainst(trainDocs: DataFrame, benchDocs: DataFrame,
      n: Int = 8): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.GraftBridge
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.types.BinaryType
    val spark = trainDocs.sparkSession
    def gramArr = array_distinct(transform(
      graft.functions.Text.shingles(col("text"), n), Hashing.stableHash60(_)))
    // bench-sized and consumed three times (count, sketch, exact verify) —
    // cached through SessionMemo (keyed by its plan, which carries the gram
    // params) so the registration is bounded, evictable, and released by
    // invalidate() instead of persisting for the session lifetime
    val bench = SessionMemo.ofPlan("bloomBenchGrams",
      benchDocs.select(explode(gramArr).as("gram_h")).distinct())
    // size the sketch to the actual bench cardinality (a bench-sized count,
    // not a corpus job) for ~3% FPP, and pass BOTH values through the
    // (child, est, numBits) constructor. The aggregate re-clamps them at
    // eval time against the session's
    // spark.sql.optimizer.runtime.bloomFilter.maxNumItems / maxNumBits
    // (4M items / 64M bits by default), so size within those maxima here
    // and WARN when they bind: past them the prefilter FPP degrades and
    // map-side pruning weakens, while the exact verify keeps the result
    // exact. The session's conf is read, never changed.
    val maxItems = spark.conf.get(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS.key).toLong
    val maxBits = spark.conf.get(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS.key).toLong
    val wanted = math.max(bench.count(), 1L)
    val est = math.min(wanted, maxItems)
    val idealBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(wanted, 0.03)
    val numBits = math.min(idealBits, maxBits)
    if (est < wanted || numBits < idealBits)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"decontaminateBloomAgainst: bench gram cardinality $wanted wants " +
          s"$idealBits bloom bits but the session caps the sketch at $est " +
          s"items / $numBits bits; the prefilter FPP degrades above 3% and " +
          "map-side pruning weakens (results stay exact)")
    val bloomBytes = bench.agg(GraftBridge.column(
        new BloomFilterAggregate(
          GraftBridge.expression(col("gram_h")),
          Literal(est), Literal(numBits)).toAggregateExpression())
        .as("bf"))
      .head().getAs[Array[Byte]]("bf")
    val mightContain = GraftBridge.column(new BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      GraftBridge.expression(col("gram_h"))))
    // docs with zero grams have no rows in the exact plan's rollup either
    val totals = trainDocs
      .select(col("doc_id"), size(gramArr).cast("long").as("n_ngrams"))
      .where(col("n_ngrams") > 0)
    val hits = trainDocs
      .select(col("doc_id"), explode(gramArr).as("gram_h"))
      .where(mightContain)
      .join(bench, Seq("gram_h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
    totals.join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_ngrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_hits"), lit(0L)) > 0).cast("int").as("contaminated"))
  }

  /** Deterministic domain-mixture sampling: draw a corpus subset whose
    * source composition matches pinned target shares (the mixture-weights
    * step of pre-training data curation), sized at `budgetFrac` of the
    * corpus. Per-source keep rate = min(1, budget·share / n_source); a doc
    * survives iff its pinned md5 hash falls under the rate — reproducible
    * across engines and runs, no RNG.
    *
    * Scale shape: two metadata-sized aggregates (per-source counts, corpus
    * total) feed a |sources|-row rate table (20 here) that is broadcast
    * onto the corpus scan — the full pass is one map-side filter; no
    * corpus shuffle anywhere.
    */
  def domainMixSample(spark: SparkSession, sfDir: String,
      budgetFrac: Double = 0.4): DataFrame = {
    val t = spark.createDataFrame(DomainTargets).toDF("source", "target_share")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val rates = counts.crossJoin(broadcast(total)).join(broadcast(t), "source")
      .select(col("source"),
        least(lit(1.0),
          round(col("n_total") * lit(budgetFrac), 0) * col("target_share")
            / col("n_source")).as("keep_rate"))
    docs.join(broadcast(rates), "source")
      .where(pmod(Hashing.stableHash32(
          concat(col("source"), lit(":"), col("doc_id").cast("string"))),
        lit(1000000L)) < col("keep_rate") * 1000000)
      .select(col("doc_id"), col("source"),
        round(col("keep_rate"), 6).as("keep_rate"))
  }

  /** Temperature-smoothed domain mixing — [[domainMixSample]]'s fixed
    * target table replaced by α-sampling shares computed FROM the corpus:
    * share_i ∝ (n_i/N)^α with α = 0.5 pinned, the standard multilingual/
    * multi-source rebalancing (upsample the tail, damp the head) used when
    * no hand-tuned mixture exists. keep_rate_i = min(1, budget·N·share_i /
    * n_i); the per-doc keep decision is the same pinned-hash draw as q57.
    *
    * Determinism across engines: α = 0.5 is computed with `sqrt` — IEEE-754
    * correctly-rounded and therefore bit-identical everywhere, unlike
    * `pow(x, 0.5)`, which carries no such guarantee — and the share
    * denominator Σ√n_j is summed as ×10⁶ fixed-point LONGS (exact,
    * commutative), so aggregation order cannot move a keep_rate across a
    * hash-draw boundary. Same scale shape as q57: two metadata-sized
    * aggregates, a |sources|-row broadcast, one map-side corpus filter —
    * no corpus shuffle.
    */
  def domainMixTemperature(spark: SparkSession, sfDir: String,
      budgetFrac: Double = 0.4): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_source"))
      .withColumn("fx", round(sqrt(col("n_source")) * lit(1000000.0)).cast("long"))
    val tot = counts.agg(sum(col("fx")).as("fx_total"),
      sum(col("n_source")).as("n_total"))
    val rates = counts.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0),
          round(col("n_total") * lit(budgetFrac), 0)
            * (col("fx").cast("double") / col("fx_total"))
            / col("n_source")).as("keep_rate"))
    docs.join(broadcast(rates), "source")
      .where(pmod(Hashing.stableHash32(
          concat(col("source"), lit(":"), col("doc_id").cast("string"))),
        lit(1000000L)) < col("keep_rate") * 1000000)
      .select(col("doc_id"), col("source"),
        round(col("keep_rate"), 6).as("keep_rate"))
  }

  /** Deterministic stratified train/val/test assignment: every document
    * draws a pinned hash in [0, 1000) and lands in train (< 900), val
    * (< 950), or test — the split every training pipeline pins before
    * anything else touches the data. The hash input is salted with a
    * split-purpose tag so this draw is INDEPENDENT of the q57/q78
    * sampling draws (the same doc must not correlate across decisions),
    * and stratification is implicit: a uniform hash within each source
    * hits the 90/5/5 shares per source in expectation, with no per-source
    * state. Pure map-side projection — no shuffle, no RNG, reproducible
    * across engines and runs.
    */
  def trainValTestSplit(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), splitColumn.as("split"))

  /** The pinned train/val/test draw of [[trainValTestSplit]], as a column —
    * shared with [[splitLeakage]] so the two can never disagree on where a
    * document landed.
    */
  private def splitColumn: org.apache.spark.sql.Column = {
    val draw = pmod(Hashing.stableHash32(
      concat(lit("split:"), col("source"), lit(":"), col("doc_id").cast("string"))),
      lit(1000L))
    when(draw < 900, "train").when(draw < 950, "val").otherwise("test")
  }

  /** Cross-split leakage audit: for every val/test document, how many of
    * its 8-grams also occur anywhere in the TRAIN split — the
    * contamination check every training pipeline runs right after
    * splitting, because a pinned-hash split deduplicates nothing: near-dup
    * documents land on both sides of the cut and quietly leak eval data
    * into training. Output: (doc_id, split, n_ngrams, n_leaked, leaked)
    * for every holdout document with at least one gram.
    *
    * Scale shape: this is the regime where NEITHER side broadcasts — the
    * holdout split is a corpus FRACTION (unlike
    * [[decontaminateAgainst]]'s small external benchmark), so the honest
    * exact plan is an equality shuffle join of the two distinct gram
    * streams on their 8-byte gram hash (both sides' distincts are
    * map-side-combinable; the hot-gram dimension spreads by the composite
    * distinct keys). The broadcast and Bloom-prefilter forms
    * ([[decontaminateAgainst]], [[decontaminateBloomAgainst]]) remain the
    * right tools when the reference side is benchmark-sized.
    */
  def splitLeakage(spark: SparkSession, sfDir: String, n: Int = 8): DataFrame =
    SessionMemo.durable(spark, sfDir, s"splitLeakage|$sfDir|$n") {
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("text"), splitColumn.as("split"))
      def grams(d: DataFrame): DataFrame = d
        .select(col("doc_id"), col("split"),
          explode(graft.functions.Text.shingles(col("text"), n)).as("gram"))
        .select(col("doc_id"), col("split"), Hashing.stableHash60(col("gram")).as("gram_h"))
      val holdout = grams(docs.where(col("split") =!= "train")).distinct()
      val trainGrams = grams(docs.where(col("split") === "train"))
        .select(col("gram_h")).distinct().withColumn("hit", lit(1))
      holdout
        .join(trainGrams, Seq("gram_h"), "left")
        .groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_ngrams"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("n_leaked"),
          max(coalesce(col("hit"), lit(0))).cast("int").as("leaked"))
    }

  /** The composed curation verdict — the query a pipeline operator actually
    * ships: one row per document with its quality score, trigram-repetition
    * fraction, canonical-duplicate flag (from the LSH component resolution),
    * benchmark-contamination flag, and the final keep/drop decision
    * (quality ≥ minQuality, repetition ≤ maxTrigramDup, canonical, clean,
    * and not part of the held-out benchmark slice itself).
    *
    * Scale shape: quality/repetition/benchmark flags are map-side over one
    * documents scan; the component and contamination columns arrive by two
    * doc_id hash joins from their own (already scale-shaped) pipelines.
    *
    * Durable family (r17): the verdict is one narrow row per document and
    * feeds q61 plus every packing/curation capstone (q99/q120/q124/q157/
    * q237/q250 and the shard writer) — each consumer re-ran the quality +
    * repetition metrics over the corpus (the ivfAssignTrained discipline:
    * content-fingerprint keys, build attributed in Bench's prebuild, cold
    * path proven by the memo-off gate).
    */
  def curationDecisions(spark: SparkSession, sfDir: String,
      minQuality: Double = 0.5, maxTrigramDup: Double = 0.2,
      benchMod: Int = 97): DataFrame =
    SessionMemo.durable(spark, sfDir,
      s"curationDecisions|$sfDir|$minQuality|$maxTrigramDup|$benchMod") {
      curationDecisionsBuild(spark, sfDir, minQuality, maxTrigramDup,
        benchMod)
    }

  private def curationDecisionsBuild(spark: SparkSession, sfDir: String,
      minQuality: Double, maxTrigramDup: Double, benchMod: Int): DataFrame = {
    import graft.functions.Text
    val q = Text.qualityMetrics(col("text")).toMap.apply("quality_score")
    val rep = Text.repetitionMetrics(col("text")).toMap.apply("dup_trigram_frac")
    // documentsSpread: the metrics pass is the build's dominant map work
    // and the one-split gate scan would run it single-task
    val base = Tables.documentsSpread(spark, sfDir)
      .select(col("doc_id"), q.as("quality_score"), rep.as("dup_trigram_frac"),
        (col("doc_id") % benchMod === 0).cast("int").as("is_benchmark"))
    val comps = dedupComponents(spark, sfDir)
    val decon = decontaminate(spark, sfDir, benchMod = benchMod)
      .select(col("doc_id"), col("contaminated"))
    val clean = coalesce(col("contaminated"), lit(0))
    base.join(comps, "doc_id")
      .join(decon, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality_score"), col("dup_trigram_frac"),
        (col("component") === col("doc_id")).cast("int").as("is_canonical"),
        clean.as("contaminated"),
        col("is_benchmark"),
        (col("quality_score") >= minQuality &&
          col("dup_trigram_frac") <= maxTrigramDup &&
          col("component") === col("doc_id") &&
          clean === 0 && col("is_benchmark") === 0).cast("int").as("keep"))
  }

  /** Deterministic stratified sample: at most `cap` documents per stratum
    * (language), chosen by pinned md5 hash order — reproducible across
    * engines and runs, no RNG. The standard per-language rebalancing step
    * of corpus curation.
    *
    * Scale shape: one shuffle on the stratum key with partial
    * WindowGroupLimit below the exchange (only `cap` rows per stratum
    * survive each map partition), so the shuffle carries ≤ cap·partitions
    * rows per stratum, not the corpus. Skewed strata (one language
    * dominating a web corpus) therefore cannot hot-spot a reducer.
    */
  def stratifiedSample(spark: SparkSession, sfDir: String,
      cap: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        Hashing.stableHash32(concat(col("lang"), lit(":"),
          col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    docs.withColumn("sample_rank", row_number().over(w).cast("int"))
      .where(col("sample_rank") <= cap)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
  }

  /** Boilerplate scrub with document RECONSTRUCTION — the C4-style cleanup
    * step that q55's chunk-dedup signal only measures: every non-overlapping
    * `chunkWords`-word chunk appearing in ≥ `minDocs` distinct documents
    * (nav bars, license footers, mirrored passages) is removed from every
    * document, and the surviving chunks are re-joined in original order
    * into a cleaned text column. Unlike whole-document dedup this keeps the
    * document and strips only the shared material.
    *
    * Scale shape: chunk document-frequency is one map-side-combinable
    * aggregate over the distinct (chunk-hash, doc) projection (hot chunks
    * spread across reducers by the distinct's composite key); the flagged
    * set is count-gated — broadcast back onto the chunk stream while it
    * fits, shuffled equality join past [[MaxBroadcastFlaggedChunks]] (see
    * [[boilerplateScrubOf]]); reconstruction is one hash-shuffle on
    * doc_id. Chunks cross the wire as md5 hashes for the frequency pass;
    * text rides only the doc_id-partitioned explode.
    * Determinism: chunk order is restored by the positional index
    * (array_sort on (idx, chunk) structs), so the rebuilt text is
    * byte-identical in any execution order.
    */
  def boilerplateScrub(spark: SparkSession, sfDir: String,
      chunkWords: Int = 8, minDocs: Int = 2): DataFrame =
    boilerplateScrubOf(Tables.documents(spark, sfDir), chunkWords, minDocs)

  /** Flagged-chunk broadcast ceiling: ~2M md5 hashes ≈ 100 MB on the
    * driver — past it the lookup join must shuffle.
    */
  val MaxBroadcastFlaggedChunks: Long = 2L << 20

  /** [[boilerplateScrub]] over an arbitrary (doc_id, text) frame.
    *
    * The flagged-chunk lookup is COUNT-GATED, not unconditionally
    * broadcast: chunks appearing in ≥ `minDocs` documents are NOT
    * vocabulary-bounded on a heavily mirrored web corpus — near-dup-rich
    * crawls make the flagged set corpus-proportional, and an oversized
    * broadcast kills the driver. The flagged set is materialized once
    * (`localCheckpoint`); under [[MaxBroadcastFlaggedChunks]] it ships as
    * a broadcast hash lookup, past it the join degrades to a shuffled
    * equality join on chunk_hash (AQE skew-splitting spreads hot chunks).
    * Both paths are row-identical (specced).
    *
    * @param broadcastFlagged Some(true)/Some(false) pins the strategy
    *   (used by the spec to prove both paths identical); None count-gates.
    */
  def boilerplateScrubOf(docs: DataFrame,
      chunkWords: Int = 8, minDocs: Int = 2,
      broadcastFlagged: Option[Boolean] = None): DataFrame = {
    import graft.functions.Text
    val w = Text.tokens(col("text"))
    val nChunks = ceil(size(w).cast("double") / chunkWords).cast("int")
    val chunkArr = when(size(w) > 0,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(w, i * chunkWords + 1, lit(chunkWords)))))
      .otherwise(array().cast("array<string>"))
    val chunks = docs
      .select(col("doc_id"), posexplode(chunkArr).as(Seq("idx", "chunk")))
    val boilerRaw = chunks
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
      .distinct() // in-doc repeats count once toward the document frequency
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("chunk_hash"))
    val (boiler, hint) = broadcastFlagged match {
      case Some(flag) => (boilerRaw, flag)
      case None =>
        // memoized per plan (like Dedup's helper caches): repeated calls in
        // one session share a single cached build + CacheManager entry
        // instead of re-aggregating and re-checkpointing per invocation
        val mat = SessionMemo.ofPlan("boilerFlagged", boilerRaw)
        (mat, mat.count() <= MaxBroadcastFlaggedChunks)
    }
    chunks
      .join(if (hint) broadcast(boiler) else boiler,
        md5(col("chunk")) === col("chunk_hash"), "left")
      .select(col("doc_id"), col("idx"), col("chunk"),
        col("chunk_hash").isNotNull.as("is_boiler"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("is_boiler"), 1L).otherwise(0L)).as("n_removed"),
        // collect_list skips nulls: only kept chunks enter the rebuild
        array_join(
          transform(
            array_sort(collect_list(
              when(!col("is_boiler"), struct(col("idx"), col("chunk"))))),
            s => s.getField("chunk")), " ").as("clean_text"))
      .select(col("doc_id"), col("n_chunks"), col("n_removed"),
        round(col("n_removed").cast("double") / col("n_chunks"), 6)
          .as("removed_frac"),
        col("clean_text"))
  }

  /** Adamic–Adar wedge scores over the near-dup graph: for every pair
    * (u, w) sharing at least one neighbor, the classic score
    * Σ_v 1/ln(deg v) over common neighbors v (Adamic & Adar, "Friends
    * and neighbors on the Web", Social Networks 2003), with an `is_edge`
    * flag separating CLOSED wedges (the pair is already an LSH edge —
    * these measure cluster cohesion) from OPEN ones (the link
    * predictions). On a dedup graph a high-scoring open pair is a pair
    * LSH *should* have produced — two documents whose duplicate
    * neighborhoods overlap heavily — so the open slice ranked by score
    * is the recall-repair worklist (re-verify these pairs exactly) after
    * any banding-parameter change.
    *
    * Hub cap: wedge enumeration through a center v costs deg(v)², so
    * centers above `maxDeg` are skipped — the standard truncation (a
    * near-clique hub's members are already each other's neighbors; its
    * wedges predict edges inside an already-resolved cluster). The cap is
    * part of the operator contract and the oracle applies it identically.
    *
    * Determinism: each center contributes the FIXED-POINT
    * round(10⁶/ln deg) (ln of identical small integers — both engines
    * agree at the round); scores are then exact integer sums.
    *
    * Scale shape: degree is one map-side-combinable aggregate; wedges are
    * one equality self-join on the center key, bounded by the cap; the
    * existing-edge subtraction is a left-anti equality join on the pair
    * key. Nothing all-pairs, nothing driver-side.
    */
  def adamicAdar(spark: SparkSession, sfDir: String,
      maxDeg: Int = 64): DataFrame =
    adamicAdarOf(Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2")), maxDeg)

  /** [[adamicAdar]] over an arbitrary canonical (doc1 < doc2) pair list —
    * the fixture-testable core.
    */
  def adamicAdarOf(pairs: DataFrame, maxDeg: Int = 64): DataFrame = {
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
    val centers = edges.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("deg"))
      // deg 1 cannot anchor a wedge anyway; the lower bound keeps ln(deg)
      // away from ln(1)=0 so w_fp never evaluates a division by zero
      .where(col("deg") >= 2 && col("deg") <= maxDeg)
      .select(col("v"),
        round(lit(1000000.0) / log(col("deg").cast("double")), 0)
          .cast("long").as("w_fp"))
    val wedges = edges.select(col("src").as("v"), col("dst").as("u"))
      .join(edges.select(col("src").as("v"), col("dst").as("w")), Seq("v"))
      .where(col("u") < col("w"))
      .join(centers, Seq("v"))
    wedges
      .groupBy(col("u").as("doc1"), col("w").as("doc2"))
      .agg(count(lit(1)).as("n_common"), sum(col("w_fp")).as("aa_fp"))
      .join(pairs.select(col("doc1"), col("doc2"), lit(1).as("is_edge")),
        Seq("doc1", "doc2"), "left")
      .select(col("doc1"), col("doc2"), col("n_common"), col("aa_fp"),
        round(col("aa_fp").cast("double") / 1e6, 6).as("aa_score"),
        coalesce(col("is_edge"), lit(0)).as("is_edge"))
  }

  /** Shard-rebalance audit: how many documents MOVE when the shard count
    * changes from `nOld` to `nNew`, under mod-hash placement vs rendezvous
    * (highest-random-weight) hashing (Thaler & Ravishankar, IEEE/ACM ToN
    * 1998). HRW assigns each key to the shard maximizing a pinned
    * key×shard hash, so growing the pool relocates only ~1/nNew of keys
    * — the property that makes incremental shard growth affordable —
    * while mod-hash relocates almost everything. The audit emits both
    * methods' movement shares: the number a platform reads before
    * choosing its placement function.
    *
    * Determinism: placements derive from the repo-pinned md5-prefix hash
    * on "doc_id:shard" (ties — vanishingly rare — break to the larger
    * shard id via the lexicographic struct max, mirrored in the oracle's
    * DESC, DESC rank).
    *
    * Scale shape: ZERO shuffles on the corpus — both placements per key
    * are in-row array_max over the shard-count-bounded score list, and
    * the audit is one map-side-combinable global aggregate stacked into
    * two rows.
    */
  def shardRebalance(spark: SparkSession, sfDir: String,
      nOld: Int = 8, nNew: Int = 9): DataFrame = {
    def hrwPick(n: Int) = expr(
      s"""array_max(transform(sequence(0, ${n - 1}, 1),
         | s -> struct(CAST(conv(substring(md5(concat(doc_id, ':', s)), 1, 15),
         |   16, 10) AS BIGINT) AS h, s AS s))).s""".stripMargin)
    val flags = Tables.documents(spark, sfDir).select(col("doc_id"))
      .select(
        (pmod(col("doc_id"), lit(nOld.toLong))
          =!= pmod(col("doc_id"), lit(nNew.toLong))).cast("long").as("mod_mv"),
        (hrwPick(nOld) =!= hrwPick(nNew)).cast("long").as("hrw_mv"))
    flags
      .agg(count(lit(1)).as("n_docs"), sum(col("mod_mv")).as("mod_moved"),
        sum(col("hrw_mv")).as("hrw_moved"))
      .selectExpr(
        "stack(2, 'mod', n_docs, mod_moved, 'hrw', n_docs, hrw_moved) " +
          "AS (method, n_docs, n_moved)")
      .select(col("method"), col("n_docs"), col("n_moved"),
        round(col("n_moved").cast("double") / col("n_docs"), 6)
          .as("moved_share"))
  }

  /** Bounded-hop harmonic centrality over the near-dup graph: for each
    * vertex, Σ 1/d(u,v) over vertices within `hops` hops (here counts n1,
    * n2, n3 of vertices at exact distance 1, 2, 3). Harmonic centrality
    * (Boldi & Vigna, "Axioms for centrality", Internet Math 2014) is the
    * distance-based importance measure that stays defined on DISCONNECTED
    * graphs — which a dedup graph always is — and the bounded-hop form is
    * the only one that scales: full closeness needs all-pairs distances,
    * while a k-hop frontier sweep is k equality joins. A high-centrality
    * document sits in the middle of a large duplicate neighborhood — the
    * natural canonical-representative pick for its cluster.
    *
    * Determinism: exact-distance counts are integers; the score is the
    * exact fixed point 6·n1 + 3·n2 + 2·n3 (= 6·Σ1/d), divided out to a
    * double only at the end.
    *
    * Scale shape: each hop is one equality join of the current frontier
    * against the edge list followed by a distinct and two left-anti joins
    * (subtract closer hops) — all equality-keyed on vertex ids; frontiers
    * only ever hold (origin, vertex) pairs of the visited k-ball, never
    * paths. The same sweep at 100 TB is k rounds of hash joins.
    */
  def harmonicCentrality(spark: SparkSession, sfDir: String): DataFrame =
    harmonicCentralityOf(Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2")))

  /** [[harmonicCentrality]] over an arbitrary canonical pair list — the
    * fixture-testable core (3 hops, fixed).
    */
  def harmonicCentralityOf(pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    val d1 = edges.select(col("src").as("o"), col("dst").as("v")).distinct()
      .localCheckpoint()
    def hop(frontier: DataFrame, closer: Seq[DataFrame]): DataFrame =
      closer.foldLeft(
        frontier.join(edges, frontier("v") === edges("src"))
          .select(col("o"), col("dst").as("v")).distinct()
          .where(col("o") =!= col("v")))(
        (f, c) => f.join(c, Seq("o", "v"), "left_anti"))
        .localCheckpoint()
    val d2 = hop(d1, Seq(d1))
    val d3 = hop(d2, Seq(d1, d2))
    def cnt(d: DataFrame, name: String): DataFrame =
      d.groupBy(col("o")).agg(count(lit(1)).as(name))
    cnt(d1, "n1")
      .join(cnt(d2, "n2"), Seq("o"), "left")
      .join(cnt(d3, "n3"), Seq("o"), "left")
      .select(col("o").as("doc_id"), col("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"),
        coalesce(col("n3"), lit(0L)).as("n3"))
      .withColumn("harmonic_fp",
        lit(6L) * col("n1") + lit(3L) * col("n2") + lit(2L) * col("n3"))
      .withColumn("harmonic",
        round(col("harmonic_fp").cast("double") / 6.0, 6))
  }

  /** Semi-supervised label propagation over the near-dup graph (q25's pair
    * list, undirected): documents with a trusted label (here: every 5th
    * doc_id, labeled by its embedding-table class — the aligned
    * vec_id↔doc_id contract q161 established) spread those labels to
    * unlabeled near-duplicates. The production use: a human-audited quality
    * or topic label on a few corpus members extends to their duplicate
    * families for free — the cheap first rung of weak supervision
    * (Zhu & Ghahramani 2002's LP, restricted to hard labels).
    *
    * Synchronous rounds, fully deterministic: seeds are clamped; every
    * round each non-seed node independently takes the MAJORITY label of
    * its currently-labeled neighbors (ties → smallest label; no labeled
    * neighbor → unlabeled this round). Integer votes only — no float
    * weights, so the fixpoint is engine-exact and the oracle unrolls the
    * same rounds as CTEs.
    *
    * Scale shape: each round is one equality join (edges × labels, both
    * doc_id-keyed) plus a map-side-combinable vote count and a per-node
    * top-1 (WindowGroupLimit, not a full sort); `localCheckpoint`
    * truncates lineage per round. Labels live only on edge-touched nodes +
    * seeds, never the full corpus.
    */
  def labelPropagation(spark: SparkSession, sfDir: String,
      rounds: Int = 3, threshold: Double = 0.7): DataFrame =
    SessionMemo.durable(spark, sfDir, s"labelPropagation|$sfDir|$rounds|$threshold") {
      labelPropagationOf(
        Dedup.minhashPairs(spark, sfDir, threshold)
          .select(col("doc1"), col("doc2")),
        Tables.documents(spark, sfDir).select(col("doc_id"))
          .where(pmod(col("doc_id"), lit(5)) === 0)
          .join(Tables.embeddings(spark, sfDir)
            .select(col("vec_id").as("doc_id"), col("label")), Seq("doc_id")),
        rounds)
    }

  /** [[labelPropagation]] over arbitrary (doc1, doc2) pairs and
    * (doc_id, label) seeds.
    */
  def labelPropagationOf(pairs: DataFrame, seeds: DataFrame,
      rounds: Int): DataFrame = {
    val edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    val clamped = seeds.select(col("doc_id"), col("label")).localCheckpoint()
    var labels = clamped
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("votes").desc, col("label"))
    for (_ <- 1 to rounds) {
      val spread = edges
        .join(labels.withColumnRenamed("doc_id", "src"), Seq("src"))
        .groupBy(col("dst").as("doc_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .join(clamped.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("doc_id"), col("label"))
      labels = clamped.unionByName(spread).localCheckpoint()
    }
    labels
      .join(clamped.select(col("doc_id"), lit(1).as("is_seed")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("label"),
        coalesce(col("is_seed"), lit(0)).as("is_seed"))
  }

  /** Mann–Whitney U audit of the curation verdict: does the q69 pinned
    * model score actually separate q61's keep set from its drop set? The
    * exact U statistic (with midrank tie handling) and its two effect
    * sizes — AUC = P(random kept doc outscores a random dropped one, ties
    * half) and the rank-biserial correlation — make "the filter agrees
    * with the score" a measured number instead of a belief. AUC ≈ 0.5
    * means the keep/drop rule is orthogonal to model quality; ≈ 1 means
    * it is redundant with it.
    *
    * Everything is integer-exact: ranks are DOUBLED midranks
    * (2·rank_min + tiecount − 1 — always an integer), U is doubled
    * alongside (u_keep_x2), and the two effect sizes each divide exact
    * integers once. Decimal(38,0) carries the rank sums so corpus-scale
    * N² cannot wrap.
    *
    * Scale shape: scores collapse to the distinct-value grain first
    * (map-side combine); the cumulative rank walk is a ranged two-pass
    * prefix sum over that grain ([[graft.operators.RangedRank]] — NO
    * single-partition window, which matters because a near-continuous
    * modelScore pushes the distinct-score grain toward |docs|); the
    * output is one row.
    */
  def mannWhitneyQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val dc = org.apache.spark.sql.types.DecimalType(38, 0)
    // documentsSpread: the modelScore tokenization below is compute-bound
    // and otherwise runs as ONE task on a one-split corpus (r17)
    val scored = curationDecisions(spark, sfDir).select(col("doc_id"), col("keep"))
      .join(Tables.documentsSpread(spark, sfDir)
        .select(col("doc_id"),
          graft.functions.Text.modelScore(col("text")).as("score")),
        Seq("doc_id"))
    // localCheckpoint: RangedRank's range sampling evaluates its input a
    // second time (r16) — here the modelScore scan + keep join + grain agg
    val grain = scored.groupBy(col("score"))
      .agg(sum(col("keep")).cast(dc).as("k"),
        sum(lit(1) - col("keep")).cast(dc).as("d"))
      .withColumn("kd", (col("k") + col("d")).cast(dc))
      .localCheckpoint()
    // doubled midrank of a tie block starting after `before` rows with
    // `cnt` members: 2*before + cnt + 1. `before` = exclusive prefix of
    // the block sizes in score order = inclusive ranged prefix − own size
    val ranked = graft.operators.RangedRank.withGlobalRank(grain,
      Seq(col("score")), "score_rank", Seq("kd" -> "kd_cum")).df
    val agg = ranked
      .withColumn("before", (col("kd_cum") - col("kd")).cast(dc))
      .select(col("k"), col("d"),
        (col("k") * (col("before") * 2 + col("k") + col("d") + 1))
          .as("r1x2"))
      .agg(sum(col("k")).as("n_keep"), sum(col("d")).as("n_drop"),
        sum(col("r1x2")).as("rsum"))
    agg.select(
        col("n_keep").cast("long").as("n_keep"),
        col("n_drop").cast("long").as("n_drop"),
        (col("rsum") - col("n_keep") * (col("n_keep") + 1)).as("ux2"),
        (col("n_keep") * col("n_drop")).as("n1n2"))
      .select(col("n_keep"), col("n_drop"),
        col("ux2").cast("long").as("u_keep_x2"),
        round(col("ux2").cast("double")
          / (col("n1n2") * 2).cast("double"), 6).as("auc"),
        round((col("ux2") - col("n1n2")).cast("double")
          / col("n1n2").cast("double"), 6).as("rank_biserial"))
  }

  /** Dedup dendrogram slice: the near-dup clustering resolved at three
    * Jaccard thresholds (0.7 / 0.8 / 0.9) in one table — pair count,
    * cluster count, clustered-doc mass, and the largest family at each
    * cut. This is the "how aggressive should dedup be" decision surface:
    * the threshold where max_cluster collapses from a mega-family to
    * small groups is where near-dup stops being boilerplate removal and
    * starts deleting genuine variants (the single-threshold q50/q105
    * views are one slice each of this curve).
    *
    * Scale shape: the expensive stage — the verified q25 pair list —
    * computes ONCE (memoized) at the loosest threshold; tighter cuts are
    * map-side filters of it (jaccard is monotone in the cut), and each
    * filtered edge set resolves through the same min-label iteration as
    * q50 on edge-touched nodes only. The per-threshold stats are
    * cluster-grain rollups.
    */
  def dedupDendrogram(spark: SparkSession, sfDir: String): DataFrame =
    SessionMemo.durable(spark, sfDir, s"dedupDendrogram|$sfDir") {
      val base = Dedup.minhashPairs(spark, sfDir, 0.7).localCheckpoint()
      val allDocs = Tables.documents(spark, sfDir).select(col("doc_id"))
      Seq(0.7, 0.8, 0.9).map { t =>
        val pairs = base.where(col("jaccard") >= t)
          .select(col("doc1"), col("doc2"))
        val sizes = connectedComponents(pairs, allDocs)
          .groupBy(col("component")).agg(count(lit(1)).as("sz"))
          .where(col("sz") >= 2)
        pairs.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(sizes.agg(
            coalesce(count(lit(1)), lit(0L)).as("n_clusters"),
            coalesce(sum(col("sz")), lit(0L)).as("n_clustered_docs"),
            coalesce(max(col("sz")), lit(0L)).as("max_cluster")))
          .select(lit(t).as("threshold"), col("n_pairs"),
            col("n_clusters"), col("n_clustered_docs"), col("max_cluster"))
      }.reduce(_ unionByName _)
    }

  /** Bounded k-truss peel (q332) over the near-dup graph: iteratively
    * drop edges sitting in fewer than k−2 triangles, recomputing support
    * each round — the EDGE-grain sibling of q186's k-core (which peels
    * vertices by degree). The k-truss is the standard "cohesive subgraph"
    * cut that removes exactly the chain-link edges q143 flags, so the
    * surviving graph's components (q145's supported components at round
    * 1) stay truss-closed after the cascade a single support pass
    * misses: removing one chain link can orphan a neighbor's triangle.
    * Rounds are BOUNDED (synchronous peel rounds, the q186/q50
    * discipline) — exactly how a distributed engine runs it; per round
    * the audit emits the edge count before/after so convergence is
    * visible in the output itself.
    *
    * Scale shape: each round is one [[edgeSupportOf]] pass (degree-
    * oriented wedge join, O(√m) out-degrees) plus an equality-keyed
    * filter; `localCheckpoint` pins each round's survivors so the plan
    * never re-derives prior rounds (the q186 recipe).
    */
  def kTruss(spark: SparkSession, sfDir: String, k: Int = 3,
      rounds: Int = 3): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2"))
    kTrussOf(spark, pairs, k, rounds)
  }

  /** [[kTruss]] over an arbitrary canonical pair list — the
    * fixture-testable core.
    */
  def kTrussOf(spark: SparkSession, pairs: DataFrame, k: Int = 3,
      rounds: Int = 3): DataFrame = {
    var edges = pairs.select(col("doc1"), col("doc2")).localCheckpoint()
    val trace = Seq.newBuilder[(Int, Long, Long)]
    for (r <- 1 to rounds) {
      val before = edges.count()
      edges = edgeSupportOf(edges)
        .where(col("support") >= k - 2)
        .select(col("doc1"), col("doc2"))
        .localCheckpoint()
      trace += ((r, before, edges.count()))
    }
    import spark.implicits._
    trace.result().toDF("round", "n_edges_before", "n_edges_after")
  }

  /** Synchronous majority-label propagation (q336): `rounds` rounds of
    * "adopt the most frequent label among yourself and your neighbors,
    * ties to the smallest" over the near-dup graph — the COMMUNITY view
    * of the graph, vs the reachability view of q50's components.
    * Majority voting stops at weak joints: one chain link cannot drag a
    * clique's label across, so LPA separates the mirror families that
    * transitive closure glues together (the q143 chain-merge failure
    * mode, resolved by vote instead of by edge removal as q332 does).
    * The vote INCLUDES the vertex's own current label — without it,
    * synchronous LPA 2-cycles forever on pendant pairs (u and v swap
    * labels every round and a bounded run splits every isolated pair
    * into two singleton communities; observed directly: the neighbor-
    * only variant scored modularity 0.088 on the sf0.01 graph vs 0.950
    * for components, self-inclusive scores above it). Isolated documents
    * keep their own label. Rounds are synchronous and BOUNDED (the
    * q50/q186 discipline — exactly how a distributed engine runs LPA),
    * so the result is deterministic; async/random-order variants are not.
    *
    * Scale shape: per round one equality join (adjacency × labels)
    * unioned with the self votes into a map-side-combinable
    * (vertex, label) count, then one per-vertex WindowGroupLimit-able
    * argmax; `localCheckpoint` pins each round (the plan would otherwise
    * re-derive all prior rounds).
    */
  def lpaCommunities(spark: SparkSession, sfDir: String,
      rounds: Int = 3): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2"))
    lpaCommunitiesOf(spark, pairs,
      Tables.documents(spark, sfDir).select(col("doc_id")), rounds)
  }

  /** [[lpaCommunities]] over arbitrary pairs + vertex list — the
    * fixture-testable core.
    */
  def lpaCommunitiesOf(spark: SparkSession, pairs: DataFrame,
      vertices: DataFrame, rounds: Int = 3): DataFrame = {
    val adj = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .unionByName(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    var labels = vertices.select(col("doc_id"),
      col("doc_id").as("community")).localCheckpoint()
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cnt").desc, col("community"))
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(labels.select(col("doc_id").as("dst"), col("community")), "dst")
        .select(col("src"), col("community"))
        .unionByName(labels
          .select(col("doc_id").as("src"), col("community")))
      labels = votes
        .groupBy(col("src"), col("community")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("src").as("doc_id"), col("community"))
        .localCheckpoint()
    }
    labels
  }

  /** Bounded k-hop neighborhood growth (q337): for every document with at
    * least one near-dup edge, the cumulative distinct-neighbor counts at
    * 1, 2, and 3 hops plus the capped eccentricity — the per-node DEPTH
    * reading of the dedup graph (q121's blast radius measures total
    * spread from contaminated seeds; this measures how CHAINED each
    * node's neighborhood is: n3 ≫ n1 marks a transitive corridor, n3 =
    * n1 a closed clique).
    *
    * Scale shape: each hop is one adjacency equality join + distinct on
    * (node, reached) — frontier-bounded like q50's closure rounds, never
    * all-pairs; 3 hops is the production cut (beyond that you want the
    * component, which q50 already gives).
    */
  def hopNeighborhoods(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2"))
    hopNeighborhoodsOf(spark, pairs)
  }

  /** [[hopNeighborhoods]] over an arbitrary canonical pair list. */
  def hopNeighborhoodsOf(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val adj = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .unionByName(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    // reach(k) = distinct nodes within <= k hops, self excluded
    var reach = adj.select(col("src"), col("dst")).distinct().localCheckpoint()
    val counts = Seq.newBuilder[DataFrame]
    counts += reach.groupBy(col("src")).agg(count(lit(1)).as("n1"))
    for (k <- 2 to 3) {
      reach = reach
        .join(adj.select(col("src").as("dst"), col("dst").as("nxt")), "dst")
        .select(col("src"), col("nxt").as("dst"))
        .where(col("src") =!= col("dst"))
        .unionByName(reach)
        .distinct()
        .localCheckpoint()
      counts += reach.groupBy(col("src")).agg(count(lit(1)).as(s"n$k"))
    }
    val Seq(c1, c2, c3) = counts.result()
    c1.join(c2, "src").join(c3, "src")
      .select(col("src").as("doc_id"), col("n1"), col("n2"), col("n3"),
        when(col("n3") > col("n2"), 3)
          .when(col("n2") > col("n1"), 2)
          .otherwise(1).cast("int").as("ecc_capped"))
  }

  /** Newman modularity of three partitions of the near-dup graph (q340):
    * connected components (q50), LPA communities (q336), and the
    * singleton baseline — "which resolution should dedup trust?" asked
    * as one number per partition. Q = Σ_c (e_c/m − (d_c/2m)²) computed
    * as the EXACT integer numerator Σ_c (4·m·e_c − d_c²) over 4m², so
    * the only float is the final 6-dp division; singletons score
    * −Σ deg²/4m² (every edge cut), and a partition that merely merges
    * everything scores 0 — LPA beating components here is the
    * quantitative form of q336's chain-link argument.
    *
    * Scale shape: e_c is one equality join of the pair list to labels on
    * both endpoints; d_c one degree aggregate joined to labels; m a
    * 1-row broadcast (the A11 discipline). Numerators stay BIGINT here;
    * at corpus scale cast the products to Decimal(38,0) — d_c² grows
    * with the largest community's degree mass.
    */
  def partitionModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2")).localCheckpoint()
    val allDocs = Tables.documents(spark, sfDir).select(col("doc_id"))
    val comp = dedupComponents(spark, sfDir)
      .select(col("doc_id"), col("component").as("c"))
    val lpa = lpaCommunities(spark, sfDir)
      .select(col("doc_id"), col("community").as("c"))
    val single = allDocs.select(col("doc_id"), col("doc_id").as("c"))
    val mRow = pairs.agg(count(lit(1)).as("m"))
    val deg = pairs.select(col("doc1").as("doc_id"))
      .unionByName(pairs.select(col("doc2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    // ONE tagged pipeline over the three labelings (the q243 recipe):
    // the per-partition score ran four joins + three aggregates + two
    // broadcasts PER labeling (~31 sequential one-task job rounds at
    // gate scale); with the partition name in every key the three runs
    // share each stage. The labels frame is doc-grain ×3 narrow columns,
    // read thrice (both edge ends + the degree join) — checkpointed so
    // the memo-served component/LPA reads and the doc scan run once
    // (measured: dropping the checkpoint costs +0.5 s at gate scale).
    val labels = comp.withColumn("p", lit("components"))
      .unionByName(lpa.withColumn("p", lit("lpa")))
      .unionByName(single.withColumn("p", lit("singletons")))
      .localCheckpoint()
    val e = pairs
      .join(labels.select(col("p"), col("doc_id").as("doc1"),
        col("c").as("c1")), "doc1")
      .join(labels.select(col("p"), col("doc_id").as("doc2"),
        col("c").as("c2")), Seq("doc2", "p"))
      .where(col("c1") === col("c2"))
      .groupBy(col("p"), col("c1").as("c")).agg(count(lit(1)).as("ec"))
    val d = deg.join(labels, "doc_id")
      .groupBy(col("p"), col("c")).agg(sum(col("deg")).as("dc"))
    val perC = d.join(e, Seq("p", "c"), "left")
      .select(col("p"), col("dc"), coalesce(col("ec"), lit(0L)).as("ec"))
    val nComm = labels.groupBy(col("p"))
      .agg(countDistinct(col("c")).as("n_communities"))
    val spark0 = spark
    import spark0.implicits._
    // literal spine: a labeling with NO scored communities (empty pair
    // list) must still emit its row with null num / 0 internal edges,
    // exactly like the old per-labeling global aggregate
    val spine = Seq("components", "lpa", "singletons").toDF("p")
    spine
      .join(perC.crossJoin(broadcast(mRow))
        .groupBy(col("p"))
        .agg(sum(lit(4L) * col("m") * col("ec") - col("dc") * col("dc"))
            .as("num"),
          coalesce(sum(col("ec")), lit(0L)).as("n_internal_edges")),
        Seq("p"), "left")
      .join(broadcast(nComm), Seq("p"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("p").as("partition"),
        coalesce(col("n_communities"), lit(0L)).as("n_communities"),
        coalesce(col("n_internal_edges"), lit(0L)).as("n_internal_edges"),
        round(col("num").cast("double")
          / (lit(4.0) * col("m") * col("m")), 6).as("modularity"))
  }

  /** Compaction planner (q335): greedy next-fit-decreasing bin packing of
    * a small-file manifest into target-capacity compaction groups — the
    * planning step of every lakehouse OPTIMIZE job (many small files →
    * few near-target files, never splitting a file). Files here are the
    * simulated (source, doc_id div 50) shards with byte size Σ n_chars;
    * the planner sorts by (size desc, source, group) — a total order —
    * and walks once, opening a new bin whenever the next file would
    * overflow `capBytes`. Per bin: file count, bytes, extremes, and the
    * fill ratio the job's skew report reads.
    *
    * Scale shape: the MANIFEST is driver-sized by construction (one row
    * per file, not per record — the q233/q293 metadata-collect
    * discipline); the sequential greedy is inherently order-dependent,
    * so it runs where sequential state is free. At 100 TB the manifest
    * is still only |files| rows; shard it by table partition and pack
    * within partitions.
    */
  def compactionPlan(spark: SparkSession, sfDir: String,
      capBytes: Long = 4096L): DataFrame = {
    val files = Tables.documents(spark, sfDir)
      .groupBy(col("source"), expr("doc_id div 50").as("g"))
      .agg(sum(col("n_chars")).as("sz"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy { case (s, g, sz) => (-sz, s, g) }
    var bin = 0
    var fill = 0L
    val assigned = files.map { case (_, _, sz) =>
      if (fill + sz <= capBytes && fill > 0L) fill += sz
      else { if (fill > 0L) bin += 1; fill = sz }
      (bin, sz)
    }
    // first file opens bin 0 (fill starts 0 → else-branch with bin stays 0)
    val perBin = assigned.groupBy(_._1).toSeq.map { case (b, fs) =>
      (b, fs.length.toLong, fs.map(_._2).sum, fs.map(_._2).max, fs.map(_._2).min)
    }.sortBy(_._1)
    import spark.implicits._
    perBin.toDF("bin_id", "n_files", "total_bytes", "largest_file",
      "smallest_file")
      .withColumn("fill_ratio",
        round(col("total_bytes").cast("double") / capBytes.toDouble, 6))
  }

  /** Densest-subgraph peel trajectory (q380, Charikar 2000; the parallel
    * 2(1+ε)-approximation of Bahmani et al. VLDB'12): six synchronous
    * rounds over the near-dup graph, each removing EVERY vertex whose
    * degree is below 2(1+ε)·ρ (ε pinned at ¼, so the peel predicate is
    * the exact integer comparison deg·4n < 5m — no density double ever
    * drives control flow), publishing per round the surviving vertex
    * and edge counts and the ×10⁶ density, with the best round flagged.
    * The subgraph that round induces is the densest-subgraph
    * approximation — the "spam core" / hot-community extractor that
    * k-core (a fixed threshold) and components (no density notion)
    * cannot give.
    *
    * Scale shape per round: one degree aggregate and two semi-joins on
    * the edge list — the q186 k-core discipline with a global (m, n)
    * scalar pair instead of a pinned k; rounds are a pinned constant
    * (the approximation guarantee needs only O(log n) of them).
    */
  def densestSubgraph(spark: SparkSession, sfDir: String,
      rounds: Int = 6): DataFrame = {
    val pairs = Dedup.minhashPairs(spark, sfDir)
      .select(col("doc1"), col("doc2"))
    densestSubgraphOf(spark, pairs, rounds)
  }

  /** [[densestSubgraph]] over an arbitrary canonical pair list. */
  def densestSubgraphOf(spark: SparkSession, pairs: DataFrame,
      rounds: Int = 6): DataFrame = {
    import spark.implicits._
    var edges = pairs.select(col("doc1").as("src"), col("doc2").as("dst"))
      .union(pairs.select(col("doc2").as("src"), col("doc1").as("dst")))
      .localCheckpoint()
    val traj = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var r = 0
    while (r <= rounds) {
      val s = edges.agg(count(lit(1)).as("m"),
        count_distinct(col("src")).as("n")).head()
      val (m, n) = (s.getLong(0), s.getLong(1))
      traj += ((r, n, m))
      if (m == 0) {
        ((r + 1) to rounds).foreach(i => traj += ((i, 0L, 0L)))
        r = rounds + 1
      } else {
        if (r < rounds) {
          // survivors: deg * 4n >= 5m  (deg < 2(1+1/4) * m/(2n) peels)
          val alive = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
            .where(col("deg") * 4 * n >= 5 * m).select(col("src").as("v"))
          edges = edges
            .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .select(col("src"), col("dst"))
            .localCheckpoint()
        }
        r += 1
      }
    }
    val rows = traj.toSeq.map { case (r, n, m) =>
      (r, n, m / 2, if (n > 0) (m * 1000000L) / (2 * n) else 0L)
    }
    val best = rows.map(_._4).max
    val bestRound = rows.filter(_._4 == best).map(_._1).min
    rows.map { case (r, n, e, d) =>
      (r, n, e, d, if (r == bestRound) 1 else 0) }
      .toDF("round", "n_vertices", "n_edges", "density_fp", "is_best")
  }

  /** Grid-blocked DBSCAN (q348, Ester et al. KDD'96) over the integer
    * document feature plane (x = n_chars, y = space count) with an L∞
    * ε-box of (5, 2) and minPts = 4 (self-inclusive): density clustering
    * with NO all-pairs stage. Neighbor candidates come from an equality
    * join on grid cells of exactly ε size — each point probes only its
    * 3×3 neighboring cells (the 9-way fan-out is a broadcast of 9 offset
    * rows, a narrow ×9 Expand), which is guaranteed to contain every L∞
    * ε-neighbor. Cores (≥ minPts neighbors incl. self) link into clusters
    * via [[connectedComponentsStar]] over the core-core ε-edges; border
    * points (non-core with ≥1 core neighbor) pin deterministically to the
    * MINIMUM neighboring core's component; the rest are noise (−1).
    *
    * Scale shape: the candidate generator is the same equality-keyed
    * discipline as every dedup bucketer here (LSH bands, simhash chunks)
    * — pair work is Σ_cell |cell|·|3×3 block|, linear for bounded
    * density, never n²; the component resolver is the O(log² n) star
    * machinery. Skewed cells (one dense cell at web scale) salt exactly
    * like any hot join key. All-integer features ⇒ exact, engine-free
    * arithmetic end to end.
    */
  def gridDbscan(spark: SparkSession, sfDir: String): DataFrame =
    gridDbscanGated(spark, sfDir, distributedResolve = false)

  /** [[gridDbscan]] resolved by [[connectedComponentsStar]] over the
    * contracted rep graph instead of the driver union-find (q385) —
    * identical output (same min-label fixpoint), gated against the SAME
    * oracle as q348; the resolver to reach for when the occupied grid
    * outgrows the driver (the q50 / q72 precedent, cluster-resolver
    * flavor). `tools.Stress dbscan` validates it at 1.5M points with
    * planted truth.
    */
  def gridDbscanStar(spark: SparkSession, sfDir: String): DataFrame =
    gridDbscanGated(spark, sfDir, distributedResolve = true)

  /** Shared gated path for q348/q385 (r14 verdict item 1): the two
    * queries differ ONLY in the component resolver, while the expensive
    * candidate stage — the 9-cell neighbor join, per-point counts, cell
    * contraction, rep edges, and border candidates — is identical. That
    * stage is memoized once per (sfDir, ε, minPts) as a single packed
    * table through [[SessionMemo.durable]] (the q59-tf / dedupDendrogram
    * precedent), so whichever query runs first pays the build (attributed
    * in Bench's prebuild), and the other replays only its resolver:
    * q348's two metadata-sized driver collects, or q385's star rounds.
    * Determinism: every packed table is an exact integer aggregate of the
    * corpus, so sharing cannot change either query's output — pinned by
    * Round14OpsSpec (entry equality) and Round15OpsSpec (memo path equals
    * the unmemoized [[gridDbscanOf]]).
    */
  private def gridDbscanGated(spark: SparkSession, sfDir: String,
      distributedResolve: Boolean): DataFrame = {
    val (epsX, epsY, minPts) = (5L, 2L, 4L)
    val packed = SessionMemo.durable(spark, sfDir,
      s"gridDbscanShared|$sfDir|$epsX|$epsY|$minPts") {
      dbscanPack(dbscanShared(spark, gridDbscanFeats(spark, sfDir),
        epsX, epsY, minPts))
    }
    dbscanResolve(spark, dbscanUnpack(packed), distributedResolve)
  }

  private def gridDbscanFeats(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("n_chars").cast("long").as("x"),
        (length(col("text")) - length(translate(col("text"), " ", "")))
          .cast("long").as("y"))

  /** [[gridDbscan]] over an arbitrary (doc_id, x, y) integer frame.
    *
    * Cluster resolution exploits the grid's own geometry instead of a
    * general graph solver: a cell is exactly ε-sized, so any two points
    * in the SAME cell are mutually ε-close — all cores of a cell are one
    * clique and contract (distributed, a groupBy on the cell key) to a
    * single representative, the cell's min core doc_id. The contracted
    * graph has ≤ |occupied cells| nodes and ≤ 9·|occupied cells| edges —
    * bounded by the GRID AREA (feature range / ε per axis), not by the
    * corpus: the same corpus-size-independence argument as the q37 IVF
    * codebook. That metadata-sized edge list is union-found on the
    * driver (min-label, so the fixpoint is identical to the min-label
    * closure: each cluster labels by its minimum core doc_id — the
    * cluster min is ≤ its whole cell, hence its own cell's rep, hence
    * the min rep). For an unbounded feature domain where the occupied
    * grid itself outgrows the driver, pass `distributedResolve = true`:
    * the contracted rep edges feed [[connectedComponentsStar]] instead
    * (and the rep tables join by shuffle, not broadcast) — the
    * contraction step is the same either way, and the star fixpoint is
    * the identical min-label closure, so both resolvers emit the same
    * labels wherever both finish (`tools.Stress dbscan` checks equality on
    * planted clusters at a widened domain).
    */
  def gridDbscanOf(spark: SparkSession, feats: DataFrame,
      epsX: Long, epsY: Long, minPts: Long,
      distributedResolve: Boolean = false): DataFrame =
    dbscanResolve(spark,
      dbscanShared(spark, feats, epsX, epsY, minPts), distributedResolve)

  /** The resolver-independent candidate tables of [[gridDbscanOf]] — the
    * expensive corpus-scale stage both resolvers consume, isolated so the
    * gated pair can memoize it once ([[gridDbscanGated]]):
    *  - `counts`      (doc_id, n_neighbors): per-point ε-neighbor count
    *    (self-inclusive, so every input point appears);
    *  - `coreCells`   (doc_id, cx, cy): each core's home cell;
    *  - `cellRep`     (cx, cy, rep): the min core per occupied cell — the
    *    cell-clique contraction (any two points of one ε-sized cell are
    *    mutually ε-close, so a cell's cores are one clique);
    *  - `repEdges`    (rep_a, rep_b): deduped cell-grain core adjacency,
    *    ≤ 9·|occupied cells| rows — bounded by GRID AREA, not corpus;
    *  - `borderReps`  (da, rep): for each NON-core point, the distinct
    *    reps of its core neighbors' cells. Resolver-independent stand-in
    *    for the raw neighbor list in the border pass: a border point's
    *    cluster is min over its core neighbors' components, and a core's
    *    component IS its cell rep's label, so min over the rep labels is
    *    the same value — this keeps the n·density-sized `nb` out of the
    *    memo while still never re-deriving it per resolver.
    * All-integer exact aggregates of the input: memo-sharing between
    * resolvers cannot change either's output.
    */
  private case class DbscanShared(counts: DataFrame, coreCells: DataFrame,
      cellRep: DataFrame, repEdges: DataFrame, borderReps: DataFrame)

  private def dbscanShared(spark: SparkSession, feats: DataFrame,
      epsX: Long, epsY: Long, minPts: Long): DbscanShared = {
    import spark.implicits._
    val offsets = broadcast(
      (for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy))
        .toDF("dx", "dy"))
    val cells = feats.select(col("doc_id"), col("x"), col("y"),
      floor(col("x") / epsX).as("cx"), floor(col("y") / epsY).as("cy"))
    val probes = cells.crossJoin(offsets)
      .select(col("doc_id").as("da"), col("x").as("ax"), col("y").as("ay"),
        col("cx").as("acx"), col("cy").as("acy"),
        (col("cx") + col("dx")).as("kx"), (col("cy") + col("dy")).as("ky"))
    // every ε-pair appears exactly once: b's home cell is unique and a
    // probes each of the 9 candidate cells once
    val nb = probes.join(
        cells.select(col("doc_id").as("db"), col("x").as("bx"),
          col("y").as("by"), col("cx").as("kx"), col("cy").as("ky")),
        Seq("kx", "ky"))
      .where(abs(col("ax") - col("bx")) <= epsX
        && abs(col("ay") - col("by")) <= epsY)
      .select(col("da"), col("db"), col("acx"), col("acy"),
        col("kx").as("bcx"), col("ky").as("bcy"))
      .localCheckpoint() // shared by count, contraction and border passes
    val counts = nb.groupBy(col("da").as("doc_id"))
      .agg(count(lit(1)).as("n_neighbors"))
    val cores = counts.where(col("n_neighbors") >= minPts)
      .select(col("doc_id"))
    // distributed contraction: min core per cell, then cell-grain edges
    val coreCells = cells
      .join(cores, Seq("doc_id"))
      .select(col("doc_id"), col("cx"), col("cy"))
    val cellRep = coreCells.groupBy(col("cx"), col("cy"))
      .agg(min(col("doc_id")).as("rep"))
    val repEdges = nb
      .join(cores.select(col("doc_id").as("da")), Seq("da"))
      .join(cores.select(col("doc_id").as("db")), Seq("db"))
      .join(cellRep.select(col("cx").as("acx"), col("cy").as("acy"),
        col("rep").as("rep_a")), Seq("acx", "acy"))
      .join(cellRep.select(col("cx").as("bcx"), col("cy").as("bcy"),
        col("rep").as("rep_b")), Seq("bcx", "bcy"))
      .where(col("rep_a") < col("rep_b"))
      .select(col("rep_a"), col("rep_b")).distinct()
    val borderReps = nb
      .join(cores.select(col("doc_id").as("da"), lit(1).as("a_core")),
        Seq("da"), "left")
      .where(col("a_core").isNull)
      .join(cores.select(col("doc_id").as("db")), Seq("db"))
      .join(cellRep.select(col("cx").as("bcx"), col("cy").as("bcy"),
        col("rep")), Seq("bcx", "bcy"))
      .select(col("da"), col("rep")).distinct()
    DbscanShared(counts, coreCells, cellRep, repEdges, borderReps)
  }

  /** Pack/unpack the five [[DbscanShared]] tables as ONE tagged all-long
    * frame so the gated memo family is a single durable parquet entry;
    * a filter over the persisted pack replays each table without
    * re-touching the corpus.
    */
  private def dbscanPack(sh: DbscanShared): DataFrame =
    sh.counts.select(lit("cnt").as("kind"), col("doc_id").as("a"),
        col("n_neighbors").as("b"), lit(0L).as("c"))
      .unionAll(sh.coreCells.select(lit("core").as("kind"),
        col("doc_id").as("a"), col("cx").as("b"), col("cy").as("c")))
      .unionAll(sh.cellRep.select(lit("rep").as("kind"),
        col("cx").as("a"), col("cy").as("b"), col("rep").as("c")))
      .unionAll(sh.repEdges.select(lit("edge").as("kind"),
        col("rep_a").as("a"), col("rep_b").as("b"), lit(0L).as("c")))
      .unionAll(sh.borderReps.select(lit("bord").as("kind"),
        col("da").as("a"), col("rep").as("b"), lit(0L).as("c")))

  private def dbscanUnpack(packed: DataFrame): DbscanShared = DbscanShared(
    packed.where(col("kind") === "cnt")
      .select(col("a").as("doc_id"), col("b").as("n_neighbors")),
    packed.where(col("kind") === "core")
      .select(col("a").as("doc_id"), col("b").as("cx"), col("c").as("cy")),
    packed.where(col("kind") === "rep")
      .select(col("a").as("cx"), col("b").as("cy"), col("c").as("rep")),
    packed.where(col("kind") === "edge")
      .select(col("a").as("rep_a"), col("b").as("rep_b")),
    packed.where(col("kind") === "bord")
      .select(col("a").as("da"), col("b").as("rep")))

  /** Component resolution + final labeling over [[DbscanShared]] — the
    * only stage where q348 and q385 differ; consumes ONLY the shared
    * tables (never the raw neighbor list), so under the gated memo each
    * resolver's marginal cost is the resolve itself.
    */
  private def dbscanResolve(spark: SparkSession, sh: DbscanShared,
      distributedResolve: Boolean): DataFrame = {
    import spark.implicits._
    val labels =
      if (distributedResolve)
        // rep graph too big for the driver: the O(log² n)-round star
        // resolver over the SAME contracted edges; its fixpoint labels
        // every rep by its component's min rep — exactly the union-find
        // min-label below
        connectedComponentsStar(
          sh.repEdges.select(col("rep_a").as("doc1"), col("rep_b").as("doc2")),
          sh.cellRep.select(col("rep").as("doc_id")))
          .select(col("doc_id").as("rep"), col("component"))
      else {
        // grid-area-bounded driver solve (the corpus-scale collapse is
        // done): |reps| ≤ occupied cells, |edges| ≤ 9·cells
        val reps = sh.cellRep.select(col("rep")).collect().map(_.getLong(0))
        val edges = sh.repEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
        val parent = scala.collection.mutable.Map.from(reps.map(r => r -> r))
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        broadcast(reps.toSeq.map(r => (r, find(r)))
          .toDF("rep", "component"))
      }
    val comp = sh.coreCells
      .join(if (distributedResolve) sh.cellRep else broadcast(sh.cellRep),
        Seq("cx", "cy"))
      .join(labels, Seq("rep"))
      .select(col("doc_id"), col("component"))
    // a border point's cluster: min component over its core neighbors —
    // computed from the rep-level candidates (borderReps), since a core's
    // component is by construction its cell rep's label
    val border = sh.borderReps
      .join(labels, Seq("rep"))
      .groupBy(col("da").as("doc_id"))
      .agg(min(col("component")).as("b_comp"))
    sh.counts
      .join(comp.withColumnRenamed("component", "c_comp"),
        Seq("doc_id"), "left")
      .join(border, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_neighbors"),
        when(col("c_comp").isNotNull, 1).otherwise(0).cast("int")
          .as("is_core"),
        coalesce(col("c_comp"), col("b_comp"), lit(-1L)).as("cluster"))
  }
}
