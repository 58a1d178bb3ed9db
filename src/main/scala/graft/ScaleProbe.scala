package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness (VERDICT r12 item 1): measures the heaviest
  * pipeline families at 1×/10×/100× of sf0.1 to convert the "survives
  * 100 TB by design" claims from plan inspection into measurement.
  *
  * Corpus synthesis is DETERMINISTIC replication with key remapping —
  * a generated artifact under /tmp, never committed:
  *
  *  - `documents`: doc_id strides by (max+1) per replica; every token
  *    of `text` gets a replica suffix (replica 0 keeps the original),
  *    so replicas are NOT near-duplicates of each other — shingle/
  *    minhash/band structures keep the base corpus's duplicate rate
  *    instead of collapsing into k-sized duplicate clusters whose
  *    candidate pairs would grow quadratically BY CONSTRUCTION (that
  *    would measure the synthesizer, not the engine);
  *  - `embeddings`: vec_id strides; vectors circularly rotate by
  *    (replica mod 64) positions — norms and intra-replica geometry
  *    are preserved, cross-replica cosine decorrelates (replicas
  *    64 apart share a rotation: ~k/64 residual cross-similarity,
  *    noted in SCALE.md);
  *  - `lineitem`/`orders`/`customer`: join keys stride by (max+1) so
  *    the purchase graph becomes k disjoint copies — PageRank's edge
  *    count scales exactly k× with no artificial supernodes.
  *
  * Per (query, scale): one COLD, ISOLATED wall time through the noop
  * sink (full compute, no driver collect — Bench's execution shape) —
  * caches are evicted after every query so each measurement pays for
  * its own upstream frames and never observes another family's
  * (r14; the shared-session methodology let co-resident persisted
  * frames inflate later queries at the largest scales) — plus
  * executed-plan shape (exchanges, join strategies, codegen fallbacks)
  * and driver heap in use after a GC. Pins evaluated by
  * `tools/scale_check.py` and written up in SCALE.md:
  *
  *   (a) near-linear growth: t(100×)/t(10×) within a generous linear
  *       envelope (≤ 20× — parquet scan + shuffle constants shrink
  *       per-row as scale grows, superlinear means a design break);
  *   (b) no codegen fallbacks at any scale, and join-strategy flips
  *       recorded (broadcast→shuffled at scale is the DESIGNED
  *       stats-based behavior for the phash candidate join — flagged,
  *       adjudicated in SCALE.md, not auto-failed);
  *   (c) flat driver memory: post-GC heap at 100× bounded by a
  *       constant (centroids/codebooks/seeds), not by corpus size.
  *
  * Usage: runMain graft.ScaleProbe [baseSfDir] [scales] [outJson] [targets] [wave]
  *   defaults: /root/testdata/sf0.1  1,10,100  SCALE_PROBE.json  ""  wave1
  * Results merge into outJson under the wave key (multi-wave artifact —
  * every wave SCALE.md tabulates is committed and re-checkable). A wave
  * named "skew*" probes the adversarial corpus from `synthesizeSkew`.
  */
object ScaleProbe {

  /** The heavy families VERDICT r12 names, one per candidate-generation
    * design: band-join minhash, pointer-jumping clusters, LSH probe,
    * IVF-cell semdedup, winnowing spans, phash bucket join, BSP
    * pagerank.
    */
  val targets: Seq[String] = Seq(
    "q_dedup_minhash", "q_dedup_clusters", "q_ann_lsh", "q_semdedup",
    "q_text_winnow", "q_multimodal_phash", "q_pagerank")

  /** Wave 2 (r13): the incremental-ingest tier + remaining similarity
    * families. Wave 3 (r13): the text-dedup tier. Committed per-wave in
    * SCALE_PROBE.json so scale_check re-verifies every family SCALE.md
    * tabulates (VERDICT r13 item 2 — the r13 runs left waves 2-3 in
    * /tmp-only artifacts).
    */
  val wave2Targets: Seq[String] = Seq(
    "q_ann_incremental", "q_dedup_incremental", "q_embed_neardup",
    "q_jaccard_prefix", "q_knn_graph", "q_multimodal_phash_incremental",
    "q_quality_classifier", "q_semdedup_incremental", "q_tfidf_sim")

  val wave3Targets: Seq[String] = Seq(
    "q_dedup_simhash", "q_dedup_ngram", "q_dedup_containment",
    "q_seg_dedup", "q_para_dedup", "q_winnow_crossdup", "q_substr_dedup")

  /** Skew wave (VERDICT r13 item 1): the uniform replica remapping
    * deliberately preserves the base corpus's duplicate rate and key
    * distribution, so it never stresses the skew guards (hot-shingle
    * cutoff + correction join, salted self-joins, AQE skew splits).
    * These families run against the ADVERSARIAL corpus `synthesizeSkew`
    * builds instead.
    */
  val skewTargets: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_ngram", "q_dedup_minhash", "q_dedup_clusters",
    // r15: the simhash tier joined the wave when it gained the
    // exact-text collapse (30% of the skew corpus is ≤8-sized
    // identical-text clusters — exactly what the collapse absorbs)
    "q_dedup_simhash", "q_dedup_incremental",
    "q_embed_neardup", "q_ann_lsh", "q_semdedup",
    // r14: the ingest tier under skew — identical-cluster corpora stress
    // the collapsed top-1 corpus scan and the adaptive-band bucket join
    "q_semdedup_incremental", "q_ann_incremental", "q_knn_graph",
    // r14: text/media tier under skew — boilerplate fingerprints must
    // fall to crossdup's constant df cutoff; identical-doc clusters ride
    // the phash exact-duplicate collapse (r13 finding 2) and substr's
    // gram-keyed stats (no pair join anywhere)
    "q_winnow_crossdup", "q_multimodal_phash", "q_substr_dedup",
    // r14: graph tier under supernode skew — a hub supplier in 30% of
    // lineitems (PageRank join/agg key with 30% of the rows: AQE skew
    // splits + partial aggregation) and a hub part (triangle counting's
    // compact-forward √m wedge bound, k-core peeling, and the
    // rarity-sorted prefix filter are the designed guards)
    "q_pagerank", "q_graph_triangles", "q_graph_kcore", "q_jaccard_prefix")

  /** Deep wave (r17, verdict r16 item 5): ONE MORE measured decade.
    * Every other wave tops out at x100 of sf0.1, so the 100 TB claims
    * extrapolate two decades; this wave runs the two cheapest families
    * (text statistics + exact dedup — pure documents scans) to x1000
    * (~20M documents, ~0.6 GB parquet via [[synthesizeDocs]]), buying a
    * third measured decade of growth for the families where disk and
    * wall-clock budgets allow it. Same pins as every wave (linear
    * envelope on the top step, no codegen fallback, flat driver heap).
    */
  val deepTargets: Seq[String] = Seq(
    "q_text_stats", "q_text_langid", "q_token_count", "q_text_quality",
    "q_dedup_exact")

  /** Stream-skew wave (r15, verdict r14 item 2 — the one remaining
    * 100 TB claim that was prose, not measurement): the events-table
    * operators under a HOT USER KEY and BOUNDED BURSTS. No committed
    * wave covered q_stream_* because the uniform synthesizer copies
    * `events` unscaled; this wave scales it adversarially via
    * [[synthesizeStreamSkew]].
    */
  val streamSkewTargets: Seq[String] = Seq(
    "q_stream_window", "q_stream_sessionize", "q_stream_sessionize_chunked",
    "q_stream_dedup", "q_stream_dedup_agg", "q_stream_join",
    "q_stream_enrich", "q_stream_late",
    "q_asof_join", "q_asof_join_chunked", "q_range_join")

  private def maxPlusOne(df: DataFrame, c: String): Long =
    df.agg(max(col(c))).head.getLong(0) + 1L

  /** Replicate `base` k× into `dest` with the remappings above. Tables
    * not needed by the targets are copied once, unscaled, so the dir is
    * a complete drop-in for Tables.load.
    */
  def synthesize(spark: SparkSession, base: String, k: Int, dest: String): Unit = {
    val marker = Paths.get(dest, ".complete")
    if (Files.exists(marker)) return
    new java.io.File(dest).mkdirs()
    val reps = explode(sequence(lit(0), lit(k - 1))).as("rep")

    // replicated frames inherit the base table's FEW input splits —
    // repartition so the write (and every later scan) parallelizes
    val par = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docStride = maxPlusOne(docs, "doc_id")
    docs.select(col("*"), reps)
      .withColumn("doc_id", col("doc_id") + col("rep") * docStride)
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("rep").cast("string")))))
      .drop("rep")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val vecStride = maxPlusOne(emb, "vec_id")
    emb.select(col("*"), reps)
      .withColumn("vec_id", col("vec_id") + col("rep") * vecStride)
      .withColumn("sh", (col("rep") % dim).cast("int"))
      .withColumn("embedding",
        when(col("sh") === 0, col("embedding")).otherwise(
          concat(expr(s"slice(embedding, sh + 1, $dim - sh)"),
            expr("slice(embedding, 1, sh)"))))
      .drop("rep", "sh")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

    val ord = spark.read.parquet(s"$base/orders.parquet")
    val cust = spark.read.parquet(s"$base/customer.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val ordStride = maxPlusOne(ord, "o_orderkey")
    val custStride = maxPlusOne(cust, "c_custkey")
    val suppStride = maxPlusOne(li, "l_suppkey")
    ord.select(col("*"), reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * ordStride)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * custStride)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dest/orders.parquet")
    cust.select(col("*"), reps)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custStride)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dest/customer.parquet")
    li.select(col("*"), reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * ordStride)
      .withColumn("l_suppkey", col("l_suppkey") + col("rep") * suppStride)
      .drop("rep")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/lineitem.parquet")

    for (t <- Tables.names
         if !Seq("documents", "embeddings", "orders", "customer", "lineitem").contains(t))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    Files.createFile(marker)
  }

  /** Documents-only k× replication for the deep (x1000) wave: the same
    * replica remapping as [[synthesize]]'s documents block (token-level
    * rewrite per replica, so duplicate structure does NOT collapse and
    * shingle/df statistics stay base-like at every scale), with every
    * other table copied once unscaled — the deep targets are pure
    * documents scans, and replicating lineitem/orders ×1000 would burn
    * ~15 GB of disk and minutes of synth for tables the wave never
    * reads.
    */
  def synthesizeDocs(spark: SparkSession, base: String, k: Int, dest: String): Unit = {
    val marker = Paths.get(dest, ".complete")
    if (Files.exists(marker)) return
    new java.io.File(dest).mkdirs()
    val reps = explode(sequence(lit(0), lit(k - 1))).as("rep")
    val par = spark.sparkContext.defaultParallelism
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docStride = maxPlusOne(docs, "doc_id")
    docs.select(col("*"), reps)
      .withColumn("doc_id", col("doc_id") + col("rep") * docStride)
      .withColumn("text",
        when(col("rep") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("rep").cast("string")))))
      .drop("rep")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")
    for (t <- Tables.names if t != "documents")
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    Files.createFile(marker)
  }

  /** ADVERSARIAL k× replication: real 100 TB crawls are skewed, not
    * uniform, and the uniform remapping above deliberately preserves the
    * base duplicate rate — so the skew guards are otherwise only ever
    * exercised at sf0.1's natural skew. Three planted pathologies, all
    * deterministic (doc_id/vec_id arithmetic, no RNG).
    *
    * DENSITY constant, CLUSTER SIZE bounded: the first cut of this
    * synthesizer kept dup docs verbatim across ALL k replicas and gave
    * every hot vector ONE shared value, so exact-duplicate clusters grew
    * as k — and since the pair-semantics queries (q_dedup_ngram,
    * q_embed_neardup) must ENUMERATE every genuine duplicate pair, their
    * output is Ω(cluster²) by construction and no engine can hold a
    * linear envelope against it. That measures the synthesizer, not the
    * engine (the same trap the uniform remapping's scaladoc warns about).
    * Clusters therefore repeat per 8-REPLICA BLOCK: size caps at 8 while
    * the NUMBER of clusters scales with k, keeping 30%/50%/10% pathology
    * density at every scale with output-linear growth. A cluster larger
    * than any bound is real (mirror farms) — but for it, pair
    * ENUMERATION itself is quadratic and the right operator is cluster
    * semantics (q_dedup_exact / q_dedup_clusters / q_semdedup), which
    * the wave also probes; the engine-side exact-duplicate collapses
    * (q_embed_neardup, q_multimodal_phash) keep the COST at output size
    * even then.
    *
    *  - duplicate-heavy: base docs with doc_id % 10 ∈ {0,1,2} (30%) keep
    *    their text verbatim within each 8-replica block (suffix remap by
    *    block, not by rep) — exact-duplicate clusters of size ≤ 8 whose
    *    count scales with k (a dup-heavy crawl: mirrors, reposts);
    *  - power-law tokens: base docs with doc_id % 2 = 0 (50%) get a fixed
    *    9-token preamble prepended AFTER remapping, identical across all
    *    replicas — a handful of shingles with document frequency 0.5·N
    *    at every scale (boilerplate headers, license banners). This one
    *    is deliberately UNBOUNDED: it is the single-hot-join-key stress
    *    the df cutoff must absorb;
    *  - hot-key embeddings: base vecs with vec_id % 10 = 0 (10%) are
    *    replaced, per 8-replica block, by verbatim copies of a DONOR
    *    base vector chosen injectively per (hot index, block) — exact-
    *    tie clusters of 8-9 byte-identical vectors whose count scales
    *    with k: dense exact-tie buckets in every LSH band and dense IVF
    *    cells. Donors are natural corpus vectors, so cross-cluster
    *    similarity stays at the corpus's own near-dup rate (a fixed
    *    basis-vector family cannot do this: 64 dims admit at most ~2·64
    *    mutually-far unit vectors, so any deterministic fixed family
    *    either grows clusters with k or plants spurious 0.5-cosine
    *    cross near-dups). The injection wraps once hot·blocks exceeds
    *    n_base (cluster size then grows by ~k/80 — outside the probed
    *    range, noted here for larger probes);
    *  - supernode graph: lineitem/orders/customer scale with the uniform
    *    key striding, but supplier 0 takes 30% of all lineitems (a
    *    PageRank join/agg key holding 30% of the rows) and part 0
    *    appears in ~14% of baskets (a co-purchase hub whose degree
    *    approaches the part count) — constant hub FRACTIONS, so hub
    *    degree grows linearly with the graph like real supernodes.
    *
    * Non-probed tables are copied once, unscaled, so the dir stays a
    * complete drop-in for Tables.load.
    */
  def synthesizeSkew(spark: SparkSession, base: String, k: Int, dest: String): Unit = {
    val marker = Paths.get(dest, ".complete")
    if (Files.exists(marker)) return
    new java.io.File(dest).mkdirs()
    val reps = explode(sequence(lit(0), lit(k - 1))).as("rep")
    val par = spark.sparkContext.defaultParallelism
    val preamble = "terms of service apply to all content on this site"

    val docs = spark.read.parquet(s"$base/documents.parquet")
    val docStride = maxPlusOne(docs, "doc_id")
    docs.select(col("*"), reps)
      // dup docs remap by BLOCK (rep DIV 8): verbatim inside a block,
      // distinct across blocks — cluster size ≤ 8, cluster count ∝ k
      .withColumn("mark",
        when(col("doc_id") % 10 < 3, expr("(rep DIV 8) * 8"))
          .otherwise(col("rep")))
      .withColumn("remapped",
        when(col("mark") === 0, col("text")).otherwise(
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1r"), col("mark").cast("string")))))
      .withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(lit(preamble + " "), col("remapped"))).otherwise(col("remapped")))
      .withColumn("doc_id", col("doc_id") + col("rep") * docStride)
      .drop("rep", "mark", "remapped")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    val dim = emb.select(size(col("embedding"))).head.getInt(0)
    val vecStride = maxPlusOne(emb, "vec_id")
    // donor = (hot index + block · hotCount) mod n_base — injective per
    // (hot index, block) until hot·blocks wraps past the base corpus
    val hotCount = (vecStride + 9) / 10
    val donors = emb.select(col("vec_id").as("donor_id"),
      col("embedding").as("donor_vec"))
    emb.select(col("*"), reps)
      .withColumn("sh", (col("rep") % dim).cast("int"))
      .withColumn("donor_id",
        when(col("vec_id") % 10 === 0,
          expr(s"((vec_id DIV 10) + (rep DIV 8) * ${hotCount}L) % ${vecStride}L")))
      .join(donors, Seq("donor_id"), "left")
      .withColumn("embedding",
        when(col("vec_id") % 10 === 0, col("donor_vec"))
        .otherwise(
          when(col("sh") === 0, col("embedding")).otherwise(
            concat(expr(s"slice(embedding, sh + 1, $dim - sh)"),
              expr("slice(embedding, 1, sh)")))))
      .withColumn("vec_id", col("vec_id") + col("rep") * vecStride)
      .drop("rep", "sh", "donor_id", "donor_vec")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/embeddings.parquet")

    // graph tables scale with the same key striding as the uniform
    // synthesizer, PLUS two supernodes: supplier 0 takes 30% of all
    // lineitems (a power-law hub in the PageRank purchase graph — one
    // join/aggregation key holding 30% of the rows, the AQE-skew-split
    // stress) and part 0 appears in ~14% of order baskets (a hub vertex
    // in the co-purchase graph whose degree approaches the part count —
    // the stress for triangle counting's compact-forward orientation,
    // k-core peeling, and the rarity-sorted prefix filter). The hub
    // fractions are constant, so hub degree grows linearly with the
    // graph — exactly how real supernodes scale.
    val ord = spark.read.parquet(s"$base/orders.parquet")
    val cust = spark.read.parquet(s"$base/customer.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    val ordStride = maxPlusOne(ord, "o_orderkey")
    val custStride = maxPlusOne(cust, "c_custkey")
    val suppStride = maxPlusOne(li, "l_suppkey")
    ord.select(col("*"), reps)
      .withColumn("o_orderkey", col("o_orderkey") + col("rep") * ordStride)
      .withColumn("o_custkey", col("o_custkey") + col("rep") * custStride)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dest/orders.parquet")
    cust.select(col("*"), reps)
      .withColumn("c_custkey", col("c_custkey") + col("rep") * custStride)
      .drop("rep")
      .write.mode("overwrite").parquet(s"$dest/customer.parquet")
    li.select(col("*"), reps)
      .withColumn("l_orderkey", col("l_orderkey") + col("rep") * ordStride)
      .withColumn("l_suppkey",
        when(col("l_orderkey") % 10 < 3, lit(0L))
          .otherwise(col("l_suppkey") + col("rep") * suppStride))
      .withColumn("l_partkey",
        when(col("l_orderkey") % 7 === 3, lit(0L)).otherwise(col("l_partkey")))
      .drop("rep")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/lineitem.parquet")

    for (t <- Tables.names if !Seq("documents", "embeddings",
        "orders", "customer", "lineitem").contains(t))
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    Files.createFile(marker)
  }

  /** ADVERSARIAL k× replication of the EVENTS table (r15): real event
    * streams are power-law in the user key, and every keyed streaming
    * operator (sessionization state, dedup state, the interval-join
    * state store, the user-partitioned windows of the batch replays)
    * keys on user_id — so the wave plants the two pathologies the
    * SCALE.md r14 residual named, both deterministic and both with the
    * finding-11 discipline (pathology DENSITY constant, per-window
    * burst BOUNDED, so genuine output grows linearly and the probe
    * measures the engine, not the synthesizer):
    *
    *  - time advances per replica: ts offsets by rep · (span + 1 h), so
    *    window COUNT scales with k while per-window event density stays
    *    constant — the honest way to grow an event stream (more hours
    *    of traffic, not infinitely denser hours);
    *  - hot user: events with base event_id % 10 < 2 (20%) collapse to
    *    user_id 0 at EVERY replica — one session/dedup/join key holds
    *    20% of all rows at every scale, spread across the whole k×span
    *    (per-window density constant). This serializes that key's
    *    window sort / state chain: wall time stays LINEAR (0.2·k·N
    *    through one chain) but the constant is the Amdahl cost the
    *    mitigation note in SCALE.md prices out;
    *  - bounded burst: events with base event_id % 997 == 0 (~0.1%)
    *    collapse to user_id 1 with ts compressed into the first 30
    *    minutes of their replica's time block — ~100 events per burst
    *    (constant), burst COUNT ∝ k. Inside one interval-join window a
    *    burst is quadratic in its own size, so bounding the burst keeps
    *    genuine join output linear in k while still planting a dense
    *    single-(user, window) cell at every scale;
    *  - everyone else: user_id strides by (max+1) per replica (disjoint
    *    populations — per-user state bounded), event_id strides so ids
    *    stay unique.
    *
    * Non-events tables are copied once, unscaled (q_stream_enrich's
    * customer/nation dims are genuinely fixed-size dimensions).
    */
  def synthesizeStreamSkew(spark: SparkSession, base: String, k: Int, dest: String): Unit = {
    val marker = Paths.get(dest, ".complete")
    if (Files.exists(marker)) return
    new java.io.File(dest).mkdirs()
    val reps = explode(sequence(lit(0), lit(k - 1))).as("rep")
    val par = spark.sparkContext.defaultParallelism

    // events MUST go through Tables.load: the driver testdata's ts
    // physical type has shipped as TIMESTAMP(NANOS) and TIMESTAMP_NTZ,
    // and unix_micros below breaks on a raw read of either
    val ev = Tables.load(spark, base, "events")
    val bounds = ev.agg(
      min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"),
      (max(col("event_id")) + 1L).as("estride"),
      (max(col("user_id")) + 1L).as("ustride")).head
    val lo = bounds.getLong(0)
    val span = bounds.getLong(1) - lo + 3600L * 1000000L
    val eStride = bounds.getLong(2)
    val uStride = bounds.getLong(3)
    ev.select(col("*"), reps)
      .withColumn("hot", col("event_id") % 10 < 2)
      .withColumn("burst", col("event_id") % 997 === 0)
      .withColumn("base_us", unix_micros(col("ts")))
      // burst takes precedence over hot where both flags fire
      // (event_id divisible by 997 AND % 10 < 2 — 2⁄10 of 1⁄997 of all
      // rows), so the hot key holds 20% − ~0.02% of events and the
      // burst key ~0.1%; non-planted ids offset by +2 so user_id 0/1
      // hold ONLY planted events at every replica (r16, verdict r15
      // advice — rep 0 previously let base users 0/1 keep their ids,
      // mixing baseline traffic into the planted keys)
      .withColumn("user_id",
        when(col("burst"), lit(1L))
          .when(col("hot"), lit(0L))
          .otherwise(col("user_id") + col("rep") * uStride + 2L))
      .withColumn("ts_us",
        when(col("burst"),
          lit(lo) + col("rep") * span + pmod(col("base_us"), lit(1800L * 1000000L)))
          .otherwise(col("base_us") + col("rep") * span))
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withColumn("event_id", col("event_id") + col("rep") * eStride)
      .drop("rep", "hot", "burst", "base_us", "ts_us")
      .repartition(par)
      .write.mode("overwrite").parquet(s"$dest/events.parquet")

    for (t <- Tables.names if t != "events")
      spark.read.parquet(s"$base/$t.parquet")
        .write.mode("overwrite").parquet(s"$dest/$t.parquet")
    Files.createFile(marker)
  }

  /** Post-GC used heap. Three GC passes with pauses: broadcast and
    * block cleanup runs through the ContextCleaner's weak-reference
    * queue, which needs a GC to enqueue and a beat to process before a
    * second GC can actually reclaim the freed blocks.
    */
  private def usedHeapAfterGc(): Long = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(400) }
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  final case class PlanShape(
      exchanges: Int, broadcastJoins: Int, sortMergeJoins: Int,
      shuffledHashJoins: Int, nestedLoopJoins: Int, codegenFallback: Boolean)

  /** r15: counts come from the PlanWalk operator-tree walk (verdict r14
    * item 5) — persisted subtrees no longer inflate them (the old
    * string scan over plan.toString read an InMemoryRelation's printed
    * cached plan once per reference; q_tfidf_sim's row showed 622
    * "broadcasts") and `exchanges` now means SHUFFLE exchanges
    * precisely (broadcast builds are visible as broadcastJoins).
    * Fallback detection stays string-based: CodegenFallback is an
    * expression-level marker, not an operator node.
    */
  private def planShape(df: DataFrame): PlanShape = {
    val c = PlanWalk.count(df.queryExecution.executedPlan)
    PlanShape(
      exchanges = c.shuffleExchanges,
      broadcastJoins = c.broadcastHashJoins + c.broadcastNestedLoopJoins,
      sortMergeJoins = c.sortMergeJoins,
      shuffledHashJoins = c.shuffledHashJoins,
      nestedLoopJoins = c.cartesianProducts,
      codegenFallback =
        df.queryExecution.executedPlan.toString.contains("CodegenFallback"))
  }

  /** Merge one wave's flat result dict into the committed multi-wave
    * artifact: `{"wave1": {...}, "wave2": {...}, "skew": {...}}`. A
    * legacy flat file (top-level `q_*` keys) is wrapped as wave1 so the
    * committed r13 artifact upgrades in place on the first merge. An
    * existing wave merges FIELD-WISE, so a subset re-probe (4th arg)
    * refreshes just its queries without clobbering the wave's others.
    */
  private def mergeWave(outJson: String, wave: String, flat: String): String = {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    val mapper = new ObjectMapper()
    val root: ObjectNode = {
      val p = Paths.get(outJson)
      if (Files.exists(p)) {
        val old = mapper.readTree(Files.readString(p))
        val keys = { val it = old.fieldNames(); val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next(); b.result() }
        if (keys.exists(k => k.startsWith("q_") || k.startsWith("heap_"))) {
          val w = mapper.createObjectNode()
          w.set[ObjectNode]("wave1", old)
          w
        } else old.asInstanceOf[ObjectNode]
      } else mapper.createObjectNode()
    }
    val incoming = mapper.readTree(flat).asInstanceOf[ObjectNode]
    root.get(wave) match {
      case existing: ObjectNode => existing.setAll[ObjectNode](incoming)
      case _ => root.set[ObjectNode](wave, incoming)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val scales = args.lift(1).getOrElse("1,10,100").split(',').map(_.trim.toInt).toSeq
    val outJson = args.lift(2).getOrElse("SCALE_PROBE.json")
    // wave name = the key this run's results land under in outJson
    // ("wave1" | "wave2" | "wave3" | "skew" | "streamskew" | ad-hoc);
    // "skew*" probes the adversarial document/embedding/graph corpus,
    // "streamskew*" the adversarial events corpus (r15).
    val wave = args.lift(4).getOrElse("wave1")
    val streamCorpus = wave.startsWith("streamskew")
    val skewCorpus = !streamCorpus && wave.startsWith("skew")
    val deepCorpus = wave.startsWith("deep")
    // optional comma-separated query list — re-probe a subset of the
    // wave's default targets or probe ANY catalog queries whose inputs
    // the synthesizer scales (documents/embeddings/orders/customer/
    // lineitem for skew, events for streamskew)
    val runTargets = args.lift(3).filter(_.nonEmpty) match {
      case Some(f) => f.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      case None => wave match {
        case "wave2" => wave2Targets
        case "wave3" => wave3Targets
        case w if w.startsWith("streamskew") => streamSkewTargets
        case w if w.startsWith("skew") => skewTargets
        case w if w.startsWith("deep") => deepTargets
        case _ => targets
      }
    }
    // AQE ON: the probe is about cluster behavior (skew handling,
    // partition coalescing, runtime join re-planning) — the exact
    // configuration Verify runs with and a cluster deployment uses.
    // One session spans three orders of magnitude of data: let AQE
    // pick per-stage partition counts by starting shuffles wide and
    // coalescing down (a fixed 32 at 100× makes ~GB partitions that
    // spill; a cluster deployment sets exactly this knob)
    val spark = Sessions.local("graft-scale-probe", aqe = true, overrides = Map(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" ->
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", "256")))
    SparkEntry.registerSessionFunctions(spark)

    // JVM warm-up on a DIFFERENT dir (sf0.01): absorbs codegen, class
    // loading and session warm-up without touching the per-dir caches
    // the measured scales use — the x1 numbers would otherwise carry
    // ~10 s of first-ever-run overhead (measured) that no other scale
    // pays, wrecking the growth ratios.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    for (q <- runTargets) {
      SparkEntry.queries(q)(spark, warmDir).queryExecution.toRdd.foreach(_ => ())
    }
    spark.catalog.clearCache()
    System.err.println("[scale] warm-up pass done")

    val sb = new StringBuilder("{")
    var first = true
    for (k <- scales) {
      // adversarial corpora are synthesized even at x1 (the planted hot
      // keys exist at every scale; only cluster/burst COUNTS need
      // k > 1) so the growth ratios compare like corpora
      val dir =
        if (k == 1 && !skewCorpus && !streamCorpus) base
        else {
          val d =
            if (streamCorpus) s"/tmp/graft_streamskew_x$k"
            else if (skewCorpus) s"/tmp/graft_skew_x$k"
            else if (deepCorpus) s"/tmp/graft_deep_x$k"
            else s"/tmp/graft_scale_x$k"
          val t0 = System.nanoTime()
          if (streamCorpus) synthesizeStreamSkew(spark, base, k, d)
          else if (skewCorpus) synthesizeSkew(spark, base, k, d)
          else if (deepCorpus) synthesizeDocs(spark, base, k, d)
          else synthesize(spark, base, k, d)
          System.err.println(f"[scale] x$k synth ${(System.nanoTime() - t0) / 1e9}%.1f s")
          d
        }
      for (q <- runTargets) {
        val fn = SparkEntry.queries(q)
        // execute THROUGH the Dataset's own QueryExecution (full
        // compute on InternalRows, no driver collect) so the captured
        // executedPlan is the FINAL adaptive plan, not AQE's initial
        // guess — join-strategy flips are exactly what's under test
        // timing STARTS BEFORE construction: the iterative queries
        // (pagerank, clusters) run their checkpointed loops eagerly
        // while building the frame — that loop IS the scaling behavior
        // under test. One cold run per scale: their per-dir caches
        // (edges, signatures) memoize, so a second run would measure a
        // warm cache, not the query.
        def once(): (Double, PlanShape) = {
          val t0 = System.nanoTime()
          val df = fn(spark, dir)
          df.queryExecution.toRdd.foreach(_ => ())
          ((System.nanoTime() - t0) / 1e9, planShape(df))
        }
        // BANDS, not snapshots, for the adversarial waves (r16, verdict
        // r15 item 5): SCALE.md records ±40% same-day spread on x25
        // legs, so a single run can noise-flip a pin either way. The
        // skew/streamskew waves run each (query, scale) twice — caches
        // cleared between, so BOTH runs are cold — the artifact carries
        // both under "sec_runs", and "sec" (what scale_check pins on)
        // is the min: the compute floor, per the repo's noise
        // accounting. Uniform waves keep one run (their envelope has
        // 10× headroom and the corpus synth dominates wall time).
        val runs =
          if (skewCorpus || streamCorpus || deepCorpus) {
            val r1 = once()
            spark.catalog.clearCache()
            QueryCaches.clearAll()
            Seq(r1, once())
          } else Seq(once())
        val (sec, shape) = runs.minBy(_._1)
        val runsJson =
          if (runs.length > 1)
            s""""sec_runs":[${runs.map(r => f"${r._1}%.3f").mkString(",")}],"""
          else ""
        if (!first) sb.append(',')
        first = false
        sb.append(s""""${q}_x$k":{"sec":${f"$sec%.3f"},$runsJson""" +
          s""""exchanges":${shape.exchanges},"bhj":${shape.broadcastJoins},""" +
          s""""smj":${shape.sortMergeJoins},"shj":${shape.shuffledHashJoins},""" +
          s""""cartesian":${shape.nestedLoopJoins},""" +
          s""""codegen_fallback":${shape.codegenFallback}}""")
        System.err.println(f"[scale] $q x$k: $sec%.3f s, " +
          s"ex=${shape.exchanges} bhj=${shape.broadcastJoins} " +
          s"smj=${shape.sortMergeJoins} shj=${shape.shuffledHashJoins}")
        // PER-QUERY isolation (r14): the pins claim PER-QUERY near-linear
        // growth, so each (query, scale) must run cold and alone. The
        // r13 shared-session methodology let seven families' persisted
        // frames co-reside in one JVM; at skew-x50 the co-residency
        // inflated later queries up to 11× (solo re-runs were linear —
        // a probe artifact, not an engine defect; SCALE.md finding 12).
        // Queries now pay for their own upstream frames at every scale,
        // which is also the harder, more honest measurement.
        spark.catalog.clearCache()
        QueryCaches.clearAll()
      }
      // driver-retention pin: drop every persisted block (they live in
      // THIS heap under local mode — executor memory, not driver state)
      // AND the per-dir memo caches (their executed plans pin broadcast
      // hash relations on the driver — QueryCaches scaladoc), then GC;
      // what remains post-GC is genuine driver retention
      // (seeds/centroids/codebooks), the thing that must stay flat
      spark.catalog.clearCache()
      QueryCaches.clearAll()
      val heap = usedHeapAfterGc()
      sb.append(s""","heap_after_x${k}_mb":${heap / (1024 * 1024)}""")
      System.err.println(s"[scale] post-x$k driver heap: ${heap / (1024 * 1024)} MB")
    }
    sb.append('}')
    val merged = mergeWave(outJson, wave, sb.toString)
    Files.writeString(Paths.get(outJson), merged)
    println(sb.toString)
    spark.stop()
  }
}
