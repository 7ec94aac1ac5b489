package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Catalog

/** LLM-training-data text operators over the `documents` table (SURVEY §2.9
  * north-star extensions): deduplication (exact, normalized, n-gram Jaccard
  * with an output-preserving hot-shingle cap, MinHash+LSH, SimHash, and
  * pair-graph clustering into keeper groups), text statistics, token
  * counting, language-ID heuristic, quality scoring, and document
  * fingerprinting.
  *
  * Scale notes (100 TB):
  *  - exact/normalized dedup group on a 256-bit digest of the text, never on
  *    the text itself — the shuffle carries 32-byte keys, not documents.
  *  - near-dup dedup is candidate-generation (inverted shingle index or LSH
  *    band buckets) + exact verification on candidates only; nothing is
  *    all-pairs over the corpus.
  *  - every hash is a deterministic built-in (xxhash64/md5/sha2) computed in
  *    whole-stage codegen; no UDFs anywhere.
  */
object TextOps {

  /** Whitespace-collapsed, lower-cased, trimmed text — the normalization
    * used by `dedup_norm` and all shingle-based ops. */
  private def normText: Column =
    regexp_replace(lower(trim(col("text"))), "\\s+", " ")

  /** Documents fanned out to cluster width: the table arrives as few
    * parquet files, and per-document ops here are compute-heavy (per-token
    * hashing, per-shingle lambdas), so the scan must not run at input-file
    * width. Explicit count — AQE would coalesce the tiny-by-bytes shuffle. */
  private def docsParallel(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  // ———————————————————————————— exact dedup ———————————————————————————————

  /** Exact dedup: one keeper (min doc_id) per distinct text. Grouping key is
    * sha2(text) so the shuffle key is fixed-width. Output: keeper + copy
    * count per group. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "copies")
      .orderBy("doc_id")

  /** Normalized dedup: as [[dedupExact]] over whitespace/case-normalized
    * text. */
  def dedupNorm(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .groupBy(sha2(normText, 256).as("digest"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("copies"))
      .select("doc_id", "copies")
      .orderBy("doc_id")

  // ———————————————————————————— shingling —————————————————————————————————

  /** Distinct word 3-gram shingles per document: (doc_id, s, h) where `h`
    * is the shingle's xxhash64 — every downstream join keys on the 8-byte
    * `h`, never the shingle string, so shuffles carry fixed-width keys
    * (collision odds over a corpus-wide vocabulary are birthday-on-2^64 —
    * negligible even at 100 TB shingle cardinality). Short docs (<3 words)
    * contribute no shingles.
    *
    * The input is repartitioned before the (interpreted-lambda) shingle
    * expansion: the documents table arrives as few parquet files, and an
    * expansion-heavy stage must run at cluster width, not at input-file
    * width — at 100 TB the same rule holds (repartition before explode,
    * or the biggest input file becomes the straggler). */
  def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(docsParallel(spark, dir))

  /** [[shingles]] over an explicit (doc_id, text) DataFrame. */
  def shinglesOf(docs: DataFrame): DataFrame = {
    val words = split(normText, " ")
    val grams = when(size(words) >= 3,
      array_distinct(transform(sequence(lit(0), size(words) - 3), i =>
        concat_ws(" ",
          element_at(words, i + 1),
          element_at(words, i + 2),
          element_at(words, i + 3)))))
      .otherwise(array().cast("array<string>"))
    docs
      .select(col("doc_id"), explode(grams).as("s"))
      .withColumn("h", xxhash64(col("s")))
  }

  /** Session-persisted shingle index: the feature table every near-dup
    * query consumes — materialized once per run here, by the pipeline's
    * feature-extraction job at scale. */
  private def shinglesCached(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"shingles:$dir")(shingles(spark, dir))

  /** Exact 3-gram Jaccard near-dup pairs via an inverted shingle index:
    * join documents on shared shingles (candidate generation — only pairs
    * sharing >= 1 shingle are ever scored), count the intersection, and
    * compute jaccard = |A∩B| / (|A|+|B|-|A∩B|). Integer arithmetic until the
    * final division, so both engines agree bit-for-bit.
    *
    * Scale: the join shuffles on the shingle string; hot shingles are the
    * skew risk — the standard mitigation (drop shingles with document
    * frequency above a cap; they carry no near-dup signal) is applied via
    * `maxDf`. */
  def dedupJaccard(spark: SparkSession, dir: String,
                   threshold: Double = 0.9, maxDf: Long = Long.MaxValue): DataFrame =
    // the capped path's rare index + doc-feature table are session-cached
    // FEATURE TABLES (the same materialization contract as the shingle /
    // minhash / ann indexes): built once, and — being cached relations
    // with accurate stats — small enough sides get broadcast by the
    // planner instead of sort-merge-joining the pair stream
    dedupJaccardSh(shinglesCached(spark, dir), threshold, maxDf,
      cacheNs = Some((spark, s"$dir:$maxDf")))

  /** [[dedupJaccard]] over an explicit (doc_id, text) DataFrame (uncached —
    * fixture-sized inputs). */
  def dedupJaccardDf(docs: DataFrame, threshold: Double,
                     maxDf: Long = Long.MaxValue): DataFrame =
    dedupJaccardSh(shinglesOf(docs), threshold, maxDf, cacheNs = None)

  private def dedupJaccardSh(sh: DataFrame, threshold: Double, maxDf: Long,
                             cacheNs: Option[(SparkSession, String)]): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    if (maxDf == Long.MaxValue) {
      // exact inverted-index form: intersection counts fall straight out of
      // the shingle self-join (8-byte hash keys)
      val inter = sh.as("a")
        .join(sh.as("b"), col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
      verifyJaccard(inter, sizes, threshold).orderBy("doc_a", "doc_b")
    } else {
      // skew-capped form for hot shingles: the cap prunes CANDIDATE
      // GENERATION only (a pair is still found if it shares any rare
      // shingle); intersection counts stay EXACT. Pairs whose shared
      // shingles are ALL hot (an exact-copy cluster larger than maxDf is
      // the realistic case) share no rare shingle and would never enter
      // the rare self-join — they are RESCUED below through the minhash
      // band candidates, which see every near-dup pair regardless of
      // shingle document frequency. The safe trade at 100 TB where a
      // boilerplate shingle can appear in millions of docs.
      //
      // Plan shape: the rare self-join yields the per-pair count of shared
      // RARE shingles directly (when nothing is hot this IS the uncapped
      // plan — no candidate materialization, no full-set re-join); the
      // count of shared HOT shingles is then added back per candidate
      // pair via the hot MEMBERSHIP rows only (a document carries few hot
      // shingles even when each hot shingle touches millions of
      // documents — it is the df² pair blowup the cap exists to avoid,
      // never the per-doc membership).
      cappedPairFeats(sh, maxDf, cacheNs)
        .withColumn("imax", col("inter_rare") + least(col("ha"), col("hb")))
        // epsilon-loose (never tight): the EXACT filter runs at the end
        .where(col("imax") / (col("na") + col("nb") - col("imax")) >=
          threshold - 1e-9)
        .withColumn("inter", col("inter_rare") +
          size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
        .withColumn("jaccard",
          col("inter") / (col("na") + col("nb") - col("inter")))
        .where(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), q6(col("jaccard")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** The capped-plan PAIR FEATURE stream shared by [[dedupJaccard]] and
    * [[containmentPairs]]: candidate pairs (rare-shingle self-join + band
    * rescue) joined with both documents' scalar features — columns
    * (doc_a, doc_b, inter_rare, na, nb, ha, hb, hsa, hsb). Consumers add
    * their own upper-bound prune BEFORE touching the hot arrays, then
    * `inter = inter_rare + |hsa ∩ hsb|` is exact. All heavy subtrees are
    * session-cached under the (dir, maxDf) namespace, so every consumer
    * in a session shares ONE rare self-join and ONE band self-join. */
  private def cachedIn(cacheNs: Option[(SparkSession, String)])
                      (name: String)(build: => DataFrame): DataFrame =
    cacheNs match {
      case Some((spark, ns)) => Catalog.appCached(spark, s"$name:$ns")(build)
      case None => build
    }

  /** Shingles with document frequency above `maxDf` — the hot set the
    * capped plans prune from candidate generation. */
  private def hotShinglesOf(sh: DataFrame, maxDf: Long): DataFrame =
    sh.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("h")

  /** The capped plans' per-doc feature table: total shingles, hot count,
    * hot-hash array. A doc carries FEW hot shingles even when each hot
    * shingle touches millions of docs (the df² PAIR blowup is what the
    * cap avoids, not per-doc membership), so the array is small and the
    * feature table is O(#docs) narrow rows — AQE broadcasts it at
    * harness scale, and at 100 TB it's the same doc-keyed shuffle join
    * the sizes lookup already pays. Session-cached under the
    * (dir, maxDf) namespace, shared by every capped consumer. */
  private def docShingleFeats(sh: DataFrame, maxDf: Long,
      cacheNs: Option[(SparkSession, String)]): DataFrame =
    cachedIn(cacheNs)("jac_szf") {
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
      val hotFeat = sh.join(hotShinglesOf(sh, maxDf), Seq("h"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("hc"), collect_list("h").as("hs"))
      sizes.join(hotFeat, Seq("doc_id"), "left")
        .select(col("doc_id"), col("ns"),
          coalesce(col("hc"), lit(0L)).as("hc"),
          coalesce(col("hs"), array().cast("array<long>")).as("hs"))
    }

  private def cappedPairFeats(sh: DataFrame, maxDf: Long,
                              cacheNs: Option[(SparkSession, String)]): DataFrame = {
    locally {
      val hotH = hotShinglesOf(sh, maxDf)
      val rare = cachedIn(cacheNs)("jac_rare")(
        sh.join(hotH, Seq("h"), "left_anti"))
      val szf = docShingleFeats(sh, maxDf, cacheNs)
      // The PAIR STREAM — rare-intersection counts plus the ALL-HOT
      // rescue — is threshold-INDEPENDENT, so it is session-cached whole:
      // the five registered consumers (dedup_jaccard + the contamination
      // family + split_leakage) share ONE rare self-join and ONE band
      // self-join instead of re-executing both per query.
      //
      // ALL-HOT rescue: band candidates absent from the rare stream have
      // a genuinely-zero rare intersection (any shared rare shingle
      // would have put them in interRare), so they re-enter with
      // inter_rare = 0 and flow through the SAME exact hot-intersection
      // verify. Banding is df-independent, so the former certain miss
      // becomes the documented ~4e-8 per-pair band-miss at the 0.9
      // family; at scale the bucket table is the ingest-maintained band
      // index every LSH query already reads.
      val pairStream = cachedIn(cacheNs)("jac_pairs") {
        // INVARIANT (do not cap or sample this self-join): the
        // containment rescue's sc-prune in containmentSh is only exact
        // because interRare is COMPLETE — every pair sharing >= 1 rare
        // shingle is guaranteed present here and anti-joined out of the
        // rescue stream, which is what lets the rescue treat sc (shared
        // HOT count) as the full intersection for its survivors. If
        // candidate generation here is ever sampled/capped, that prune
        // silently drops true containment pairs.
        val interRare = rare.as("a")
          .join(rare.as("b"), col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter_rare"))
        val rescued = bandCandidates(minhashBucketsOf(sh))
          .join(interRare.select("doc_a", "doc_b"),
            Seq("doc_a", "doc_b"), "left_anti")
          .withColumn("inter_rare", lit(0L))
        // localCheckpoint (the dedup-labels pattern): TRUNCATE the build
        // lineage so consumers' plans see a materialized table, not the
        // self-join subtree — the build's internal join choices (made
        // under whatever session config was active at first
        // materialization) must not leak into every later consumer's
        // plan, and AQE sees the stream's TRUE size
        interRare.unionByName(rescued).localCheckpoint()
      }
      // ONE linear pass over the pair stream (the expensive subtree is
      // consumed exactly once): scalar-feature joins, the UPPER-BOUND
      // jaccard prune (inter <= inter_rare + min(hot_a, hot_b) — kills
      // nearly every co-candidate pair before the arrays widen the rows),
      // then the exact hot intersection inline via array_intersect, and
      // the exact threshold last.
      pairStream
        .join(szf.select(col("doc_id").as("doc_a"), col("ns").as("na"),
          col("hc").as("ha"), col("hs").as("hsa")), "doc_a")
        .join(szf.select(col("doc_id").as("doc_b"), col("ns").as("nb"),
          col("hc").as("hb"), col("hs").as("hsb")), "doc_b")
    }
  }

  /** Containment-rescue size floor: docs with at most this many shingles
    * are ELIGIBLE to re-enter capped candidate generation through their
    * hot shingles (eligibility is further gated on hot coverage — see
    * the rescue branch in [[containmentSh]] for the real cost model). */
  private[graft] val SizeFloor = 64L

  /** Directed CONTAINMENT near-dup scan (Broder's containment score
    * C(A→B) = |A∩B| / |A|): every ordered pair where at least `threshold`
    * of one document's shingles also appear in the other — the
    * "is this doc a quote / subset / boilerplate-expansion of that one"
    * read that jaccard structurally misses (a paragraph quoted inside a
    * long document has tiny jaccard but containment ≈ 1). Output one row
    * per passing DIRECTION: (doc_sub, doc_sup, containment), `doc_sub`
    * the contained document.
    *
    * Plan: consumes the SAME session-cached capped pair machinery as
    * [[dedupJaccard]] (rare-shingle self-join candidates + band rescue,
    * exact intersections via the hot-membership arrays) — when both run
    * in a session the expensive subtrees are built once and shared; the
    * only containment-specific work is a different upper-bound prune
    * (imax / min(na, nb)), the per-direction explode, and the SMALL-DOC
    * rescue: docs of at most [[SizeFloor]] shingles whose hot coverage
    * can actually reach `threshold` (hc ≥ threshold·ns) re-enter
    * candidate generation through their hot memberships, with the
    * resulting pair stream pruned to sub-side-feasible pairs BEFORE any
    * per-pair feature join (see the rescue branch for the cost model),
    * closing the all-hot low-jaccard high-containment gap the
    * jaccard-tuned bands cannot see. A LARGE all-hot doc pair with low
    * jaccard remains out of candidate reach at maxDf < ∞ (disclosed
    * trade vs the df² blowup); subset detection against known
    * boilerplate belongs in `contamination_ngram`'s exact n-gram path. */
  def containmentPairs(spark: SparkSession, dir: String,
                       threshold: Double = 0.8,
                       maxDf: Long = Long.MaxValue): DataFrame =
    containmentSh(shinglesCached(spark, dir), threshold, maxDf,
      cacheNs = Some((spark, s"$dir:$maxDf")))

  /** [[containmentPairs]] over an explicit (doc_id, text) DataFrame
    * (uncached — fixture-sized inputs). */
  def containmentPairsDf(docs: DataFrame, threshold: Double,
                         maxDf: Long = Long.MaxValue): DataFrame =
    containmentSh(shinglesOf(docs), threshold, maxDf, cacheNs = None)

  private def containmentSh(sh: DataFrame, threshold: Double, maxDf: Long,
                            cacheNs: Option[(SparkSession, String)]): DataFrame = {
    val feats =
      if (maxDf == Long.MaxValue) {
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
        sh.as("a")
          .join(sh.as("b"), col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("na")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("nb")),
            "doc_b")
      } else {
        // CONTAINMENT-specific rescue (r11 ADVICE): a SMALL doc fully
        // quoted inside a huge one — this op's headline case — can have
        // ALL its shingles hot with LOW jaccard, so neither the rare
        // self-join nor the jaccard-tuned minhash bands ever surface the
        // pair. Small docs re-enter candidate generation through their
        // hot MEMBERSHIPS joined against the full membership of those
        // shingles. Cost model (r12 ADVICE correction — this is NOT
        // "output-bound by construction"): the raw h-join fans out
        // ~Σ_small-docs Σ_hot-shingles df rows, which a corpus of many
        // short docs sharing one boilerplate hot shingle (df ≫ maxDf)
        // would blow up. Two bounds keep it from ever materializing as
        // pairs: (1) the a-side is bounded to ≤[[SizeFloor]]-shingle
        // docs, and (2) the join output is aggregated per pair
        // (map-side-combined shared-hot count sc) and pruned to
        // sc ≥ threshold·ns_small BEFORE the per-pair feature joins —
        // sc IS the exact intersection for every pair that survives the
        // anti-join below (survivors share zero rare shingles: any
        // shared rare shingle would have put the pair in the rare
        // stream — the completeness invariant cross-referenced on the
        // interRare build), so the prune is exact, and pairs it drops
        // that DID share rare shingles were headed for the anti-join
        // anyway. Pairs already in the shared stream are anti-joined
        // away; survivors have inter_rare = 0 and the exact hot-array
        // intersection below scores them like every other candidate.
        //
        // The cached rescue stream is threshold-INDEPENDENT (r13
        // ADVICE: a per-threshold cache key pinned one materialized
        // stream per distinct threshold queried, unbounded across a
        // session) — BOTH threshold gates apply at read time: the
        // hot-coverage feasibility gate (hc ≥ threshold·ns — a doc
        // whose shingles are mostly rare can never pass as the sub side
        // of a rescue pair, since rescue survivors share only hot
        // shingles) and the sc prune.
        val szf = docShingleFeats(sh, maxDf, cacheNs)
        val base = cappedPairFeats(sh, maxDf, cacheNs)
        val extra = cachedIn(cacheNs)("cont_extra") {
          sh.join(szf.where(col("ns") <= SizeFloor)
              .select(col("doc_id"), col("ns")), "doc_id")
            .join(hotShinglesOf(sh, maxDf), Seq("h")).as("a")
            .join(sh.as("b"), col("a.h") === col("b.h") &&
              col("a.doc_id") =!= col("b.doc_id"))
            .groupBy(col("a.doc_id").as("small_doc"),
              col("b.doc_id").as("other"), col("a.ns").as("ns_small"))
            .agg(count(lit(1)).as("sc"))
        }
          .join(szf.select(col("doc_id").as("small_doc"),
            col("hc").as("hc_small")), "small_doc")
          .where(col("hc_small") >= col("ns_small") * threshold - 1e-9 &&
            col("sc") >= col("ns_small") * threshold - 1e-9)
          .select(least(col("small_doc"), col("other")).as("doc_a"),
            greatest(col("small_doc"), col("other")).as("doc_b"))
          .distinct()
          .join(base.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"),
            "left_anti")
          .withColumn("inter_rare", lit(0L))
          .join(szf.select(col("doc_id").as("doc_a"), col("ns").as("na"),
            col("hc").as("ha"), col("hs").as("hsa")), "doc_a")
          .join(szf.select(col("doc_id").as("doc_b"), col("ns").as("nb"),
            col("hc").as("hb"), col("hs").as("hsb")), "doc_b")
        base.unionByName(extra)
          .withColumn("imax",
            col("inter_rare") + least(col("ha"), col("hb")))
          .where(col("imax") / least(col("na"), col("nb")) >=
            threshold - 1e-9)
          .withColumn("inter", col("inter_rare") +
            size(array_intersect(col("hsa"), col("hsb"))).cast("long"))
      }
    feats
      .select(explode(array(
        struct(col("doc_a").as("doc_sub"), col("doc_b").as("doc_sup"),
          (col("inter") / col("na")).as("containment")),
        struct(col("doc_b").as("doc_sub"), col("doc_a").as("doc_sup"),
          (col("inter") / col("nb")).as("containment")))).as("e"))
      .select(col("e.doc_sub").as("doc_sub"), col("e.doc_sup").as("doc_sup"),
        col("e.containment").as("containment"))
      .where(col("containment") >= threshold)
      .select(col("doc_sub"), col("doc_sup"),
        q6(col("containment")).as("containment"))
      .orderBy("doc_sub", "doc_sup")
  }

  /** Exact jaccard restricted to candidate pairs: full-set intersection via
    * a (doc_b, h)-keyed join (8-byte shingle-hash keys), then the size join
    * + threshold. Unordered — pair-listing callers add their own output
    * ORDER BY; the component build consumes the edge set as-is. */
  private[graft] def exactJaccardOnCandidates(
      sh: DataFrame, candidates: DataFrame, threshold: Double): DataFrame = {
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
    val inter = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
    verifyJaccard(inter, sizes, threshold)
  }

  private def verifyJaccard(inter: DataFrame, sizes: DataFrame,
                            threshold: Double): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), q6(col("jaccard")).as("jaccard"))

  // ———————————————————————————— MinHash + LSH —————————————————————————————

  private val NumHashes = 64
  private val NumBands = 16 // 4 rows per band

  /** Modulus of the minhash family: 2^31 − 1 (prime). Small enough that
    * `v * a + b` stays inside 63 bits in both engines — DuckDB ERRORS on
    * BIGINT overflow rather than wrapping, so a 64-bit mixing family could
    * never be oracle-reproduced. */
  val MinhashMod = 2147483647L

  /** Per-seed affine coefficients (a_i, b_i) of the Carter–Wegman family
    * h_i(v) = (v·a_i + b_i) mod M, generated by a fixed-seed LCG on the
    * driver so the values are compile-time-deterministic. Public: the
    * DuckDB oracle inlines the same literals and reproduces the minhash
    * pipeline exactly (the SimHash md5-bit pattern, applied to MinHash). */
  val minhashSeeds: IndexedSeq[(Long, Long)] = {
    val next = lcg(42L)
    (0 until NumHashes).map { _ =>
      val a = next() % (MinhashMod - 1) + 1 // [1, M-1]
      val b = next() % MinhashMod           // [0, M-1]
      (a, b)
    }
  }

  /** Multipliers folding a band's 4 minhashes into ONE 8-byte signature:
    * sig = ((m0·a₁ + m1)·a₂ + m2)·a₃ + m3, reduced mod M after every
    * step so each product stays under 2⁶² (DuckDB ERRORS on BIGINT
    * overflow, so this is the widest exactly-reproducible mixing). An
    * 8-byte long key keeps the bucket groupBy / star join / candidate
    * self-join shuffles fixed-width — a concatenated VARCHAR quadruple
    * was ~35 bytes per key, real money at 100 TB shuffle widths (the
    * repo's round-2 lesson: hash long values, not strings, in signature
    * loops). Collision odds per bucket pair are ~1/M ≈ 4.7e-10 — a false
    * CANDIDATE only, removed by exact verification downstream; pair-miss
    * requires a same-band collision pattern strictly weaker than the
    * documented 4e-8 band-miss probability. Public for the oracle. */
  val sigMuls: IndexedSeq[Long] = {
    val next = lcg(4242L)
    (0 until 3).map(_ => next() % (MinhashMod - 1) + 1)
  }

  /** Fixed-seed 64-bit LCG (the SplitMix-style constants used across the
    * engine's deterministic parameter derivations). */
  private def lcg(seed: Long): () => Long = {
    var state = seed
    () => {
      state = state * 6364136223846793005L + 1442695040888963407L
      state >>> 33
    }
  }

  /** Materialized LSH band buckets per document — like the shingle index,
    * this is a FEATURE TABLE the dedup pipeline maintains (at 100 TB you
    * re-band incrementally on ingest, never re-shingle the corpus per
    * query); materialized once per session here. */
  private def minhashBucketsCached(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"minhash_buckets:$dir")(
      minhashBandsOf(minhashSignaturesCached(spark, dir)))

  /** LSH band buckets over an explicit shingle table: one md5 per shingle
    * (the first 15 hex digits = 60 uniform bits, reduced mod M once), then
    * the 64 minhashes are cheap affine mixes of that value and each band's
    * minhash quadruple folds into ONE 8-byte sig (see [[sigMuls]]). Every
    * step — md5, hex decode, affine mod arithmetic — computes bit-identical
    * in DuckDB, so the bucket table (and therefore the STAR candidate
    * graph the cluster/apply chain consumes) is exactly reproducible by
    * the oracle. The md5-per-shingle base hash is markedly pricier than
    * xxhash64 (measured +~20% on the pair-listing query at sf0.01) — the
    * deliberate cost of an oracle-reproducible family; at 100 TB the
    * shingle→minhash build runs ONCE at ingest (the incremental feature
    * index), never per query, so the premium is paid on the write path. */
  private[graft] def minhashBucketsOf(sh: DataFrame): DataFrame =
    minhashBandsOf(minhashSignaturesOf(sh))

  /** The per-doc 64-minhash SIGNATURE table (doc_id, m0..m63) the band
    * fold consumes — exposed (and session-cached via
    * [[minhashSignaturesCached]]) so signature-level consumers
    * ([[minhashEstError]]) read the same table instead of re-hashing
    * the corpus. */
  private[graft] def minhashSignaturesOf(sh: DataFrame): DataFrame = {
    val v = conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long") %
      MinhashMod
    val sv = sh.select(col("doc_id"), v.as("v"))
    val hashAggs = minhashSeeds.zipWithIndex.map { case ((a, b), i) =>
      min((col("v") * a + b) % MinhashMod).as(s"m$i")
    }
    sv.groupBy("doc_id").agg(hashAggs.head, hashAggs.tail: _*)
  }

  /** Session-cached [[minhashSignaturesOf]] — one signature build shared
    * by the bucket fold and the estimate-fidelity audit. */
  private def minhashSignaturesCached(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"minhash_sigs:$dir")(
      minhashSignaturesOf(shinglesCached(spark, dir)))

  /** Fold a signature table's 4-minhash bands into 8-byte bucket sigs. */
  private def minhashBandsOf(minhashes: DataFrame): DataFrame = {
    val bandCols = (0 until NumBands).map { b =>
      val rows = (0 until 4).map(r => col(s"m${b * 4 + r}"))
      val sig = rows.tail.zip(sigMuls).foldLeft(rows.head) {
        case (acc, (m, a)) => (acc * a + m) % MinhashMod
      }
      struct(lit(b).as("band"), sig.as("sig")).as(s"b$b")
    }
    minhashes
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.sig").as("sig"))
  }

  /** Per-bucket STAR candidate edges — the connectivity-scale candidate
    * stream behind [[dedupClusters]]/[[dedupApply]]: each (band, sig)
    * bucket emits (hub, member) edges from its TWO lowest doc_ids — ~2c
    * edges for a bucket of size c, where the all-pairs self-join the
    * pair-LISTING queries use emits O(c²). At 0.9-jaccard thresholds a
    * bucket IS a duplicate cluster, and real crawl corpora duplicate
    * boilerplate millions of times — a star keeps one mega-cluster at
    * ~10⁶ candidate edges instead of ~10¹².
    *
    * Why TWO hubs: the recall loss of a single-hub star is NOT the
    * independent band-miss probability — it is DATA-DEPENDENT
    * shadowing. A bucket's min doc_id can be a below-threshold document
    * (an 0.85-similar neighbor that collides with the bucket w.h.p.);
    * with one hub, every candidate edge of that bucket runs through it,
    * all fail exact verification, and a genuine ≥threshold pair among
    * the REMAINING members is split — deterministically, in every band
    * the shadow shares, however many bands there are. The second-min
    * hub bounds that mode: shadowing now needs TWO below-threshold
    * docs to hold the two lowest ids of every shared bucket, which is
    * the square of an already-unlikely event and no longer pinned to
    * one adversarial id assignment. Connectivity of a fully-verified
    * duplicate cluster is preserved by hub 1 alone; the borderline
    * fixture spec pins the recovery hub 2 buys. Pair-listing output
    * ([[dedupMinhashLsh]]) keeps the all-pairs form — its OUTPUT is
    * inherently quadratic in cluster size, so no candidate plan can
    * beat its own contract. */
  private[operators] def starEdges(buckets: DataFrame): DataFrame = {
    val mins = buckets.groupBy("band", "sig").agg(min("doc_id").as("m1"))
    val withM1 = buckets.join(mins, Seq("band", "sig"))
      .where(col("doc_id") =!= col("m1"))
    val mins2 = withM1.groupBy("band", "sig").agg(min("doc_id").as("m2"))
    val e1 = withM1.select(col("m1").as("doc_a"), col("doc_id").as("doc_b"))
    val e2 = buckets.join(mins2, Seq("band", "sig"))
      .where(col("doc_id") > col("m2"))
      .select(col("m2").as("doc_a"), col("doc_id").as("doc_b"))
    e1.unionByName(e2).distinct()
  }

  /** MinHash+LSH near-dup pairs: 64 deterministic affine-mod min-hashes
    * per document (see [[minhashBucketsOf]]), banded 16×4; documents
    * sharing any band bucket become candidates; candidates are verified
    * with EXACT jaccard >= threshold.
    *
    * For jaccard >= 0.9 the per-pair miss probability with 16 bands of 4 is
    * (1 - 0.9^4)^16 ≈ 4e-8, so the verified output equals the exhaustive
    * [[dedupJaccard]] result with near certainty — which is exactly what the
    * oracle checks.
    *
    * Scale: signatures are one groupBy over the shingle explosion (map-side
    * combinable mins); candidate generation shuffles 8-byte band keys only;
    * verification touches candidate pairs, never the corpus cross-product. */
  def dedupMinhashLsh(spark: SparkSession, dir: String,
                      threshold: Double = 0.9): DataFrame =
    // the exact-jaccard VALUES over band candidates are threshold-
    // independent, so the verified stream is session-cached UNROUNDED
    // (the jac_pairs contract); the registered threshold filters the
    // cached unrounded value — identical semantics to the inline plan —
    // and rounding stays a display step
    Catalog.appCached(spark, s"minhash_jac_sims:$dir") {
      val sh = shinglesCached(spark, dir)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("ns"))
      bandCandidates(minhashBucketsCached(spark, dir))
        .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("h")),
          Seq("doc_b", "h"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("ns").as("na")),
          "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("ns").as("nb")),
          "doc_b")
        .withColumn("jaccard",
          col("inter") / (col("na") + col("nb") - col("inter")))
        .select("doc_a", "doc_b", "jaccard")
        .localCheckpoint()
    }
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        q6(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  /** Distinct candidate pairs from an LSH band-bucket table: the full
    * bucket self-join (every co-bucketed pair, both orders collapsed) —
    * shared by [[dedupMinhashLsh]] and the capped-jaccard all-hot
    * rescue. Candidate volume is output-bounded for true near-dup
    * clusters (their pairs are emitted anyway) plus the documented
    * band-collision false-positive rate. */
  private def bandCandidates(buckets: DataFrame): DataFrame =
    buckets.as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()

  // ———————————— incremental dedup: new batch vs indexed corpus ————————————

  /** Membership flag of the INCREMENTAL-dedup scenario: ~20% of docs
    * (stable md5 bucket of doc_id, the [[trainSplit]] hash family) play
    * the "newly arrived batch"; the rest are the already-indexed corpus.
    * A pure function of doc_id — the batch boundary costs no join, and
    * the same docs land on the same side under re-runs and shuffles. */
  private def newDocFlag: Column = md5Bucket(4, 10L) >= 8

  /** Verified near-dup pairs of the incremental join: (doc_a = indexed
    * doc or earlier batch doc, doc_b = new doc), exact jaccard ≥
    * `threshold`. THE 100 TB admission shape: when a batch arrives, only
    * the batch is shingled and min-hashed (here both sides read the
    * session-cached tables; in production doc_a's side IS the persisted
    * FeatureIndex bucket/shingle tables — `index_minhash_pairs` proves
    * that read path), and the band join is new-side-driven: a candidate
    * exists only where a new doc co-buckets with something, so the work
    * is proportional to the batch, not the corpus. Within-batch pairs
    * keep the smaller doc_id as the incumbent (first-arrival keeps).
    * Recall is NOT weakened vs the full LSH face: the candidate set is
    * the same band self-join restricted to new-doc right sides, so
    * every ≥-threshold pair with a new member survives banding exactly
    * when `dedup_minhash_lsh` finds it (its oracle pins that the bands
    * catch all of them on the fixtures). */
  private def incrementalVerified(spark: SparkSession, dir: String,
                                  threshold: Double): DataFrame =
    Catalog.appCached(spark, s"incr_jac:$dir:$threshold")(
      incrementalVerifiedFromTables(minhashBucketsCached(spark, dir),
        shinglesCached(spark, dir), threshold).localCheckpoint())

  /** The incremental band join + exact verify over EXPLICIT bucket and
    * shingle tables — ONE definition for the session path and the
    * index-served face (`FeatureIndex.indexedDedupIncremental`), so the
    * "in production the left side is the persisted index" claim is a
    * checked contract, not prose. */
  private[graft] def incrementalVerifiedFromTables(
      buckets: DataFrame, sh: DataFrame, threshold: Double): DataFrame = {
    val flagged = buckets.withColumn("is_new", newDocFlag)
    val cand = flagged.as("x").join(flagged.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("y.is_new") &&
          (!col("x.is_new") || col("x.doc_id") < col("y.doc_id")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    exactJaccardOnCandidates(sh, cand, threshold)
  }

  /** The per-new-doc best-match tail shared by the session and
    * index-served incremental faces. */
  private[graft] def incrementalBestMatch(verified: DataFrame): DataFrame = {
    // order on the explicitly re-quantized score (q6 is idempotent on
    // verifyJaccard's already-quantized output): the DuckDB oracle ranks
    // by the quantized display value, and pinning the quantization HERE
    // keeps best-match winners oracle-stable even if an upstream ever
    // changes its output precision
    val w = Window.partitionBy("doc_b")
      .orderBy(q6(col("jaccard")).desc, col("doc_a"))
    verified
      .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("dup_of"),
        col("jaccard"))
      .orderBy("doc_id")
  }

  /** Incremental dedup VERDICTS: each new-batch doc that near-duplicates
    * the indexed corpus (or an earlier doc of its own batch), with its
    * best match — max jaccard, smallest incumbent id on ties. This is
    * the admission decision a rolling ingest pipeline applies per batch:
    * docs listed here are rejected, everything else in the batch is
    * admitted (and, in production, appended to the index). The
    * per-new-doc row_number window partitions by the new doc — batch
    * cardinality, never corpus-wide. */
  def dedupIncremental(spark: SparkSession, dir: String,
                       threshold: Double = 0.9): DataFrame =
    incrementalBestMatch(incrementalVerified(spark, dir, threshold))

  /** Per-source admission summary of the incremental batch: batch size,
    * rejected count, reject ratio — the monitoring readout that says
    * whether a source's new crawl is mostly re-crawl. */
  def dedupIncrementalStats(spark: SparkSession, dir: String,
                            threshold: Double = 0.9): DataFrame = {
    val rejected = incrementalVerified(spark, dir, threshold)
      .select(col("doc_b").as("doc_id")).distinct()
      .withColumn("rej", lit(1L))
    Catalog.documents(spark, dir).where(newDocFlag)
      .select("doc_id", "source")
      .join(rejected, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_new"),
           sum(coalesce(col("rej"), lit(0L))).as("n_rejected"))
      .select(col("source"), col("n_new"), col("n_rejected"),
        q6(col("n_rejected") * lit(1.0) / col("n_new"))
          .as("reject_ratio"))
      .orderBy("source")
  }

  /** Vocabulary DRIFT of the arriving batch vs the indexed corpus: per
    * source of the new docs ([[newDocFlag]], the same batch boundary the
    * incremental dedup uses), token mass, distinct vocabulary, and the
    * out-of-vocabulary share — occurrences and distinct terms never seen
    * in any indexed doc. The monitoring readout that says whether a new
    * crawl shifted domain/language before it is admitted (a spiking OOV
    * ratio is the classic symptom of a scraper picking up a new site
    * template or a language the corpus lacks).
    *
    * Scale: reads the session word-count feature table (at 100 TB the
    * ingest-maintained token index); the indexed vocabulary is one
    * distinct over the old side, the membership test one token-keyed
    * left join (shuffle on token — vocabulary-sized sides, no corpus
    * re-scan), then a per-source rollup. */
  def batchVocabDrift(spark: SparkSession, dir: String): DataFrame =
    batchVocabDriftFromCounts(wordCounts(spark, dir))

  /** [[batchVocabDrift]] over an explicit word-count table — ONE
    * definition for the session path and the index-served face
    * (`FeatureIndex.indexedBatchVocabDrift`). Requires (doc_id, source,
    * tok, c). */
  private[graft] def batchVocabDriftFromCounts(wcIn: DataFrame): DataFrame = {
    val wc = wcIn.withColumn("is_new", newDocFlag)
    val indexedVocab = wc.where(!col("is_new"))
      .select("tok").distinct().withColumn("known", lit(1))
    wc.where(col("is_new"))
      .join(indexedVocab, Seq("tok"), "left")
      .groupBy("source")
      .agg(sum("c").as("n_tokens"),
           countDistinct(col("tok")).as("n_distinct"),
           sum(when(col("known").isNull, col("c")).otherwise(0L))
             .as("oov_tokens"),
           countDistinct(when(col("known").isNull, col("tok")))
             .as("oov_distinct"))
      .select(col("source"), col("n_tokens"), col("n_distinct"),
        col("oov_tokens"), col("oov_distinct"),
        q6(col("oov_tokens") * lit(1.0) / col("n_tokens"))
          .as("oov_ratio"))
      .orderBy("source")
  }

  /** MinHash ESTIMATE-fidelity audit: for each verified near-dup pair,
    * the signature-estimated jaccard (matching minhash components / 64)
    * next to the exact one, with the absolute error — the number a
    * band/row configuration is tuned against (estimator std is
    * √(j(1−j)/64) ≈ 0.037 at j = 0.9; a drifting abs_err means the
    * signature family, not the corpus, changed).
    *
    * Scale: pairs are the near-dup-sized verified set; signatures come
    * from the session-cached table the band fold already builds (one
    * corpus hash pass, two consumers), joined back per pair doc-keyed;
    * the component comparison is codegen integer arithmetic. Estimated
    * jaccard k/64 is exact in binary (1/64 = 2⁻⁶), so the oracle
    * arithmetic is reproducible bit-for-bit. */
  def minhashEstError(spark: SparkSession, dir: String,
                      threshold: Double = 0.9): DataFrame = {
    val sigs = minhashSignaturesCached(spark, dir)
    val eq = (0 until NumHashes).map { i =>
      when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0)
    }.reduce(_ + _)
    dedupMinhashLsh(spark, dir, threshold)
      .join(sigs.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sigs.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (eq / lit(NumHashes.toDouble)).as("est"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        q6(col("est")).as("est_jaccard"),
        q6(abs(col("est") - col("jaccard"))).as("abs_err"))
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTERS — the stage every dedup pipeline ends in: the
    * pair list ([[dedupMinhashLsh]]) closed into connected components
    * ([[GraphOps.connectedComponents]] — min-label propagation, labels
    * session-cached), cluster id = the minimum doc_id = the keeper. One
    * output row per cluster with its size. */
  def dedupClusters(spark: SparkSession, dir: String,
                    threshold: Double = 0.9, maxIters: Int = 25): DataFrame =
    GraphOps.clusterSizes(
      dedupLabels(spark, dir, threshold, maxIters), countName = "n_docs")

  /** SHINGLE DOCUMENT-FREQUENCY histogram: how many shingles live at
    * each ⌊log2 df⌋ band — the skew observability that SETS the
    * [[dedupJaccard]] `maxDf` cap (the df² pair blowup lives in the top
    * buckets; this is the evidence for where to cut). The text-side
    * sibling of [[graft.operators.VectorOps.embedKnnDegreeHist]].
    *
    * Scale: one map-side-combinable rollup of the session-cached shingle
    * table to O(vocab) df rows, then an O(log max-df) histogram. */
  def shingleDfHist(spark: SparkSession, dir: String): DataFrame =
    shinglesCached(spark, dir)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .withColumn("bucket", expr("cast(length(bin(df)) - 1 as bigint)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_shingles"), sum("df").as("occurrences"),
        min("df").as("min_df"), max("df").as("max_df"))
      .orderBy("bucket")

  /** DUP-FAMILY SIZE HISTOGRAM: the [[dedupClusters]] components rolled
    * into integer ⌊log2 size⌋ buckets — "is the duplication a long tail
    * of pairs or a few mega-families", the number that decides whether
    * cluster-keeper dedup or exact-hash dedup carries the volume.
    * Bucketing uses the `bin()` string-length trick (never floating
    * log2 — boundary values differ between ln-ratio implementations).
    * Scale: O(#clusters) rollup on the session-cached label table. */
  def dedupClusterSizes(spark: SparkSession, dir: String,
                        threshold: Double = 0.9): DataFrame =
    dedupClusters(spark, dir, threshold)
      .withColumn("bucket",
        expr("cast(length(bin(n_docs)) - 1 as bigint)"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_clusters"), sum("n_docs").as("n_docs"),
        min("n_docs").as("min_size"), max("n_docs").as("max_size"))
      .orderBy("bucket")

  /** Session-cached (doc_id, label) component labels of the minhash
    * near-dup graph — the shared feature table behind [[dedupClusters]]
    * and [[dedupApply]] (one cache key, one build). Candidate generation
    * is the per-bucket STAR ([[starEdges]] — O(c) per bucket, the
    * connectivity-scale stream), exact-jaccard-verified before the
    * component build. */
  private def dedupLabels(spark: SparkSession, dir: String,
                          threshold: Double, maxIters: Int): DataFrame = {
    val verified = exactJaccardOnCandidates(shinglesCached(spark, dir),
      starEdges(minhashBucketsCached(spark, dir)), threshold)
    GraphOps.connectedComponents(spark, verified.select("doc_a", "doc_b"),
      s"dedup:$dir:$threshold:$maxIters", maxIters)
  }

  /** The dedup pipeline's APPLY stage — the FILTERED CORPUS a training
    * pipeline feeds downstream: every document except non-keeper members
    * of near-dup clusters (keeper = min doc_id per connected component;
    * exact copies are jaccard-1.0 pairs, so exact dedup is subsumed).
    * Anti-join against the session-cached label table with NO join-side
    * hint: the non-keeper side is O(#clustered docs), and a real crawl
    * corpus is majority-duplicate — at 100 TB that side is billions of
    * rows, so a hard-coded `broadcast()` here is the wrong plan frozen
    * in code (it would OOM the driver exactly when dedup matters most).
    * The label build is materialized (checkpoint), so AQE sees its TRUE
    * size at runtime and broadcasts iff it is actually small — PlanSpec
    * executes the query and pins AQE's choice on the small fixture.
    * Text column excluded from the output — survivorship is an id +
    * metadata decision, the corpus rewrite that applies it is a storage
    * job, not a query. The closing
    * global `orderBy` is the ORACLE HARNESS's determinism contract, not
    * part of the operator — a production rewrite job drops it (sorting
    * the surviving corpus serves no consumer). */
  def dedupApply(spark: SparkSession, dir: String,
                 threshold: Double = 0.9, maxIters: Int = 25): DataFrame =
    Catalog.documents(spark, dir)
      .join(dedupLabels(spark, dir, threshold, maxIters)
          .where(col("id") =!= col("label"))
          .select(col("id").as("doc_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Per-source dedup REMOVAL RATE — what [[dedupApply]] would delete,
    * rolled up to the mixing decision: for each source, its doc count,
    * the non-keeper count, and the removal share. The number an operator
    * reads next to `source_cap_sample`'s caps: a source that is 40%
    * internal duplicates contributes far fewer effective tokens than its
    * raw size suggests.
    *
    * Scale: reuses the session-cached component labels (one build shared
    * with cluster/apply); the non-keeper side is O(#clustered docs)
    * joined doc-keyed, then a per-source map-side-combinable rollup —
    * no new corpus pass beyond the metadata scan. */
  def dedupRateBySource(spark: SparkSession, dir: String,
                        threshold: Double = 0.9,
                        maxIters: Int = 25): DataFrame = {
    val removed = dedupLabels(spark, dir, threshold, maxIters)
      .where(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(1L).as("removed"))
    Catalog.documents(spark, dir)
      .select("doc_id", "source")
      .join(removed, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(coalesce(col("removed"), lit(0L))).as("n_removed"))
      .select(col("source"), col("n_docs"), col("n_removed"),
        q6(col("n_removed") * lit(1.0) / col("n_docs"))
          .as("removal_rate"))
      .orderBy("source")
  }

  // ———————————————————————————— SimHash ———————————————————————————————————

  /** 64-bit SimHash per document from word-unigram weights: bit j of the
    * fingerprint is the sign of Σ_tokens count(token) * (±1 by bit j of
    * the token's md5). Near-dup pairs = hamming distance <= maxHamming,
    * blocked on 4 16-bit bands (guarantees recall for hamming <= 3 — a pair
    * differing in <= 3 bits must agree on >= 1 of 4 bands).
    *
    * Scale: fingerprints are one aggregation over the token explosion;
    * pairing shuffles 16-bit block keys; hamming check via bit_count(xor)
    * on candidates only. */
  def dedupSimhash(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame =
    dedupSimhashFromFps(
      // fingerprints are a materialized feature table (8 bytes/doc)
      Catalog.appCached(spark, s"simhash_fps:$dir")(
        simhashFingerprints(Catalog.documents(spark, dir))),
      maxHamming)

  /** [[dedupSimhash]] over an explicit (doc_id, text) DataFrame. Note:
    * SimHash approximates the COSINE of the term-frequency vectors — on
    * corpora where most documents share a small vocabulary it is a bag
    * similarity signal, coarser than sequence jaccard (the MinHash path);
    * its win is one 8-byte fingerprint per doc instead of a signature
    * vector. */
  def dedupSimhashDf(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    dedupSimhashFromFps(simhashFingerprints(docs), maxHamming)

  private[graft] def dedupSimhashFromFps(fps: DataFrame, maxHamming: Int): DataFrame = {
    // 4 16-bit blocks; hamming<=3 pairs must collide on at least one
    val blockCols = (0 until 4).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("fp"), b * 16).bitwiseAND(0xFFFFL).as("key")).as(s"b$b")
    }
    val blocks = fps
      .select(col("doc_id"), col("fp"), explode(array(blockCols: _*)).as("bb"))
      .select(col("doc_id"), col("fp"), col("bb.blk").as("blk"), col("bb.key").as("key"))
    blocks.as("x")
      .join(blocks.as("y"),
        col("x.blk") === col("y.blk") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
      .orderBy("doc_a", "doc_b")
  }

  /** 64-bit SimHash fingerprint per document: bit j is the sign of
    * Σ_tokens count(token) * (±1 by bit j of the token's md5).
    *
    * The per-token bit source is the md5 hex digest — digit j/4, bit j%4 —
    * rather than xxhash64, because md5 is computable identically in DuckDB
    * (`strpos` hex-digit decode), which makes the whole SimHash pipeline
    * oracle-checkable: same fingerprints, same blocks, same pairs, exact
    * hash-match. Hash quality is equivalent (both are uniform per bit). */
  def simhashFingerprints(docs: DataFrame): DataFrame = {
    val words = split(normText, " ")
    // each occurrence contributes ±1 per bit; contributions are additive,
    // so no per-(doc, token) pre-count shuffle is needed — one explode,
    // one map-side-combinable aggregation
    val toks = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .select(col("doc_id"), explode(words).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("m"))
    // 16 hex-digit values (0..15) decoded once per token, 4 bits each
    val hds = (0 until 16).map(i =>
      conv(substring(col("m"), i + 1, 1), 16, 10).cast("int").as(s"hd$i"))
    val withHd = toks.select(col("doc_id") +: hds: _*)
    // per-bit signed sums -> packed 64-bit fingerprint
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col(s"hd${j / 4}"), j % 4).bitwiseAND(1) === 1, 1.0)
        .otherwise(-1.0)).as(s"s$j")
    }
    val packed = (0 until 64).map { j =>
      when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    withHd.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), packed.as("fp"))
  }

  // ———————————————————————————— text analysis —————————————————————————————

  /** Per-language corpus statistics: doc count, whitespace-token totals,
    * char-length aggregates. */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .withColumn("ws_tokens", size(split(col("text"), " ")).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("ws_tokens").as("total_tokens"),
           q6(avg("n_chars")).as("avg_chars"),
           min("n_chars").as("min_chars"),
           max("n_chars").as("max_chars"))
      .orderBy("lang")

  /** BPE-ish token counting: `\w+` runs plus single non-space punctuation,
    * the classic pre-tokenizer regex. Exact integer totals per language. */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .withColumn("n_tokens",
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).cast("long"))
      .groupBy("lang")
      .agg(sum("n_tokens").as("total_tokens"),
           q6(avg("n_tokens")).as("avg_tokens"))
      .orderBy("lang")

  /** Language-ID heuristic: every word deterministically "votes" for one of
    * the five corpus languages (by a stable digest of the word), the
    * majority vote wins, ties break by language order. Emits the confusion
    * matrix against the labeled `lang`. With synthetic word-salad text this
    * exercises the real plumbing (tokenize → score → argmax → confusion) —
    * on real corpora the vote table would be per-language marker n-grams. */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    // word votes lang_i  iff  ascii(md5(word)[0]) % 5 == i, weighted by
    // the word's in-doc multiplicity from the shared [[wordCounts]]
    // table — one codegen'd vote per DISTINCT (doc, word) instead of per
    // token occurrence, then a map-side-combinable groupBy. (The
    // per-language `filter(words, ...)` HOF form evaluated an interpreted
    // lambda with its own md5 per word PER LANGUAGE.)
    val toks = wordCounts(spark, dir)
      .withColumn("v", ascii(substring(md5(col("tok")), 1, 1)) % 5)
    val scoreAggs = langs.indices.map(i =>
      sum(when(col("v") === i, col("c")).otherwise(0L)).as(s"sc$i"))
    val scored = toks.groupBy("doc_id", "lang")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
    val best = langs.indices.map(i =>
      struct(col(s"sc$i").as("sc"), lit(-i).as("nidx")))
    val predIdx = -greatest(best: _*).getField("nidx")
    val predLang = langs.zipWithIndex.foldLeft(lit("?")) {
      case (acc, (l, i)) => when(predIdx === i, lit(l)).otherwise(acc)
    }
    scored
      .withColumn("pred_lang", predLang)
      .groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred_lang")
  }

  /** Language-ID CONFIDENCE per source — the margin observability next
    * to [[langId]]'s confusion matrix: how much of each document's vote
    * mass the winning language takes (a source whose confidence sags is
    * mixed-language or garbled, and its `lang` labels should not be
    * trusted by the mixing stage). Same md5 votes as [[langId]] — one
    * definition of the classifier, two read-outs.
    *
    * Scale: the vote rollup is the shared word-count table's map-side
    * combinable groupBy; the per-source result is O(#sources). Parity:
    * a MICRO-average — Σ top-votes / Σ total-votes, both exact integer
    * sums, one division — never a mean of per-doc float ratios. */
  def langIdMargin(spark: SparkSession, dir: String): DataFrame = {
    val nLangs = 5
    val toks = wordCounts(spark, dir)
      .withColumn("v", ascii(substring(md5(col("tok")), 1, 1)) % nLangs)
    val scoreAggs = (0 until nLangs).map(i =>
      sum(when(col("v") === i, col("c")).otherwise(0L)).as(s"sc$i"))
    val scs = (0 until nLangs).map(i => col(s"sc$i"))
    toks.groupBy("doc_id", "source")
      .agg(scoreAggs.head, scoreAggs.tail: _*)
      .select(col("source"), greatest(scs: _*).as("top"),
        scs.reduce(_ + _).as("total"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("top").as("top_votes"), sum("total").as("total_votes"))
      .withColumn("confidence",
        q6(col("top_votes") * lit(1.0) / col("total_votes")))
      .orderBy("source")
  }

  /** The per-document quality-score expression — ONE definition shared
    * by [[qualityScore]] (which averages it per source) and
    * [[qualityApply]] (which gates on it), so the reported metric and
    * the applied filter can never desynchronize. Requires `text` and
    * `n_chars` columns. */
  private[graft] def docQualityScore: Column = {
    val nTokens = size(split(col("text"), " ")).cast("double")
    val punctCount =
      length(regexp_replace(col("text"), "[\\w\\s]", "")).cast("double")
    val punctRatio =
      punctCount / greatest(length(col("text")).cast("double"), lit(1.0))
    lit(0.4) * least(nTokens / 50.0, lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.3) * least(col("n_chars").cast("double") / 300.0, lit(1.0))
  }

  /** Document quality score in [0,1]: length signal (tokens toward 50),
    * punctuation cleanliness, and character mass (toward 300 chars) —
    * the shape of a classic heuristic quality filter. Aggregated per
    * source. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .withColumn("score", docQualityScore)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           q6(avg("score")).as("avg_score"))
      .orderBy("source")

  /** Per-source DISTRIBUTION of the quality score (decile histogram:
    * bucket = min(⌊score·10⌋, 9), count + source share) — the drift
    * view next to [[qualityScore]]'s single average: a source whose
    * mass shifts across the 0.8 gate between crawls changes
    * [[qualityApply]]'s yield, and the histogram shows it before the
    * filter runs. Shares [[docQualityScore]], so the bucketed,
    * averaged, and gated scores can never desynchronize (scores are
    * bit-identical across engines — the same property the
    * `quality_apply` gate already relies on, so floor-bucketing is
    * reproducible).
    *
    * Scale: one scan + a (source, bucket) map-side-combinable groupBy;
    * the share window runs over the ≤ 10-rows-per-source ROLLUP, never
    * the corpus. */
  def qualityHistogram(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Catalog.documents(spark, dir)
      .select(col("source"),
        least(floor(docQualityScore * 10), lit(9L)).as("bucket"))
      .groupBy("source", "bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share",
        q6(col("n_docs") * lit(1.0) /
          sum("n_docs").over(Window.partitionBy("source"))))
      .orderBy("source", "bucket")
  }

  /** Corpus-unigram LM quality score — the CCNet-style language-model
    * filter collapsed to its distributable core: each document's mean
    * token negative log-likelihood (nats) under the corpus's OWN unigram
    * distribution, averaged per source. A source full of rare/garbled
    * tokens scores high (surprising under the corpus LM), templated text
    * scores low — the third quality axis next to the heuristic
    * [[qualityScore]] and the n-gram [[docRepetition]]. (CCNet scores
    * against an external KenLM; the distributable shape — score every
    * token against a frequency model, aggregate per doc — is identical,
    * and the corpus-trained unigram model is the self-contained variant.)
    *
    * Plan: reads the shared [[wordCounts]] feature table (built once per
    * corpus — explode fan-out paid once, the shingle-table contract),
    * consumed by both the vocabulary rollup and the scoring join. The
    * vocab join keys on the token — at 100 TB the vocabulary is millions
    * of rows against billions of (doc, word) entries, a plain shuffle
    * join whose stopword skew AQE's skew-join split handles (rows are
    * (doc, word)-distinct, so no key explodes quadratically); corpus
    * token mass N joins as a broadcast ONE-ROW aggregate (the
    * `tfidf_terms` pattern). Scores are `ln`-based and rounded 6 dp on
    * both sides before comparison. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val dw = wordCounts(spark, dir)
    val vocab = dw.groupBy("tok").agg(sum("c").as("cf"))
    val total = vocab.agg(sum("cf").as("n"))
    dw.join(vocab, "tok")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "source")
      // integer micro-nats per doc before the source mean — see
      // docEntropy for the decimal-half-mean trap this avoids
      .agg(floor(
        sum(col("c") * -log(col("cf") * lit(1.0) / col("n"))) / sum("c")
          * 1e6 + 0.5).cast("long").as("nllu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nllu").as("su"))
      .select(col("source"), col("n_docs"),
        q6(col("su") / (col("n_docs") * lit(1000000.0))).as("avg_nll"))
      .orderBy("source")
  }

  /** Within-doc unigram word ENTROPY (nats), averaged per source — the
    * word-diversity quality axis: degenerate or template-generated text
    * reuses few distinct words and scores low, natural prose scores near
    * ln(doc length). Complements [[docRepetition]] (3-gram positional
    * repetition) and [[unigramLogprob]] (corpus-relative surprisal) as
    * the third standard quality signal.
    *
    * H_d = ln(n_d) − Σ c·ln(c) / n_d (the −Σ p·ln p identity with one
    * `ln` per DISTINCT word, not per occurrence). Reads the shared
    * [[wordCounts]] feature table — no scan, no explode; one doc-keyed
    * map-side-combinable rollup then a |sources|-key rollup. */
  def docEntropy(spark: SparkSession, dir: String): DataFrame =
    wordCounts(spark, dir)
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n"), sum(col("c") * log(col("c"))).as("s"))
      // per-doc score as INTEGER micro-nats: the per-source mean of
      // exact 1e-6 multiples lands exactly on a 7th-decimal rounding
      // half with probability ~1/n_docs (n divides decimally), where
      // the engines' order-dependent float sums round opposite ways —
      // an integer sum is order-independent and exact, and the single
      // closing division is deterministic (caught at sf0.1: one source
      // flipped; same hardening as unigram_logprob)
      .withColumn("hu",
        floor((log(col("n")) - col("s") / col("n")) * 1e6 + 0.5).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("hu").as("su"))
      .select(col("source"), col("n_docs"),
        q6(col("su") / (col("n_docs") * lit(1000000.0)))
          .as("avg_entropy"))
      .orderBy("source")

  /** EXACT length quantiles per source (p50/p90/p99 of `n_chars`) — the
    * length-distribution profile a quality-filter pipeline thresholds
    * against. Computed the SORT-BASED way: one rank window per source
    * (shuffle + external sort — spillable at any group size) plus two
    * metadata-sized joins against the interpolation ranks, NOT Spark's
    * `percentile` aggregate, which buffers every group value in executor
    * memory — a non-starter when one source holds billions of documents.
    * Interpolation is the standard h = p·(n−1) linear rule, arithmetic
    * ordered to match DuckDB's `quantile_cont` bit for bit. */
  def docLengthQuantiles(spark: SparkSession, dir: String,
                         ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    docLengthQuantilesOf(
      Catalog.documents(spark, dir).select("source", "n_chars"), ps)

  /** [[docLengthQuantiles]] over an explicit (source, n_chars) DataFrame
    * (property-testable against a naive in-memory reference). */
  private[operators] def docLengthQuantilesOf(
      docs: DataFrame, ps: Seq[Double]): DataFrame =
    exactQuantilesOf(docs, "source", "n_chars", ps)

  /** MERGEABLE QUANTILE-SAMPLE sketch audit — the fixed-memory
    * complement of the exact sort-based quantile core
    * ([[docLengthQuantiles]] / `series_percentiles`), the quantile
    * workload's entry in the sketch family (count-min / space-saving /
    * linear-count / Bloom / HLL): a HASH-GATED uniform sample of the
    * corpus lengths (kept iff the doc_id's md5 bucket ≡ 0 mod `mod` —
    * the bottom-k/subsampling-ladder family, Bar-Yossef et al. 2002;
    * the deterministic analog of KLL's random level sampling), whose
    * quantiles estimate the population's. The sketch is mergeable by
    * UNION (membership is a pure id hash — shards/batches sample
    * independently and identically) and downsizes by RAISING the
    * modulus (each doubling halves the kept set — the compaction
    * ladder), which is what makes it the 100 TB path: a fixed ~1/mod
    * of the corpus streams into each group's summary, never the whole
    * value set.
    *
    * Emitted per probe p: corpus size, sample size, the EXACT quantile
    * and the sample's quantile — the estimator's sufficient statistic
    * (which docs are sampled, and the interpolated order stats of both
    * sets) is deterministic and hash-oracled end to end; the rank-error
    * bound O(√(mod/n)) is the driver-side spec's claim (the sketch
    * discipline: guarantees checked where libm/probability lives, exact
    * integers in the compared columns). Exact side is the audit's
    * contract, not the sketch's cost. */
  def sketchQuantileSample(spark: SparkSession, dir: String,
                           mod: Long = 4,
                           ps: Seq[Double] = Seq(0.5, 0.9)): DataFrame = {
    require(mod >= 2, s"sampling modulus must be >= 2: $mod")
    val docs = Catalog.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), lit("all").as("g"))
    val sample = docs.where(md5Bucket(4, mod) === 0)
    val exact = exactQuantilesOf(docs.select("g", "n_chars"),
      "g", "n_chars", ps).select(col("p"), col("q").as("exact_q"))
    val est = exactQuantilesOf(sample.select("g", "n_chars"),
      "g", "n_chars", ps).select(col("p"), col("q").as("est_q"))
    val counts = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(sample.agg(count(lit(1)).as("n_sample")))
    exact.join(est, "p")
      .crossJoin(broadcast(counts))
      .select(col("p"), col("n_docs"), col("n_sample"),
        col("exact_q"), col("est_q"))
      .orderBy("p")
  }

  /** KLL COMPACTOR-LEVEL audit (Karnin, Lang & Liberty 2016) — the
    * production quantile-sketch STRUCTURE next to
    * [[sketchQuantileSample]]'s subsampling ladder (r17-VERDICT item 5:
    * the compactor hierarchy is what deployed KLL implementations
    * actually keep): per level, the exact retained compactor contents
    * of a deterministic-schedule KLL over the doc-length stream in
    * doc_id arrival order. Deterministic variant of the compaction
    * rule (documented deviations from the randomized paper scheme, for
    * engine-reproducibility): fixed capacity `cap` per level (not
    * geometric), a level FLUSHES in full when it reaches `cap` items,
    * promoting the even sorted positions (the "no-random-offset"
    * schedule; value ties ordered by original doc_id), each promoted
    * item doubling its weight to 2^level.
    *
    * Under flush-in-full the schedule is a BINARY COUNTER: level h
    * flushes exactly every cap·2^h arrivals, so the end-of-stream state
    * is a pure function of arrival positions and needs NO sequential
    * fold — level-0 retained = the trailing partial batch, level-h
    * retained = the last unpaired flush of level h−1 (0 or cap/2
    * items). That makes the whole per-level state computable as
    * `maxLevels` chained window passes (partition by flush group, sort,
    * keep even ranks — each pass parallel across flushes), which is
    * exactly how the face computes it: relational, distributed, no
    * collected stream anywhere. Rank-error contract (driver-side spec):
    * each level-h flush displaces any rank by ≤ 2^h/... — summed,
    * |est − exact| ≤ (#levels · N) / (2·cap); measured and pinned at
    * both SFs.
    *
    * Output: (level, weight, slot, value, src_id) for every retained
    * item — the exact integer sufficient statistic, hash-compared; any
    * quantile estimate stays the consumer's arithmetic (the sketch
    * family discipline). */
  def sketchKllLevels(spark: SparkSession, dir: String,
                      cap: Int = 64, maxLevels: Int = 12): DataFrame =
    kllLevelsCached(spark, dir, cap, maxLevels).orderBy("level", "slot")

  /** The cascade build behind [[sketchKllLevels]] (see its doc). */
  private def buildKllLevels(spark: SparkSession, dir: String,
                             cap: Int, maxLevels: Int): DataFrame = {
    require(cap >= 2 && cap % 2 == 0, s"capacity must be even >= 2: $cap")
    require(maxLevels >= 1 && maxLevels <= 20, s"bad maxLevels: $maxLevels")
    val items = Catalog.documents(spark, dir)
      .select(col("doc_id").as("id"), col("n_chars").cast("long").as("x"))
      .withColumn("i",
        row_number().over(Window.orderBy("id")).cast("long"))
    var cur = items.select(col("x"), col("id"),
      expr(s"(i - 1) div $cap").as("fl"))
    var out: DataFrame = null
    var h = 0
    var drained = false
    while (h < maxLevels && !drained) {
      // each level references `cur` twice (count + rows) and feeds the
      // next — materialize per level or the lazy plan doubles per
      // level (2^maxLevels analysis blowup; the oracle MATERIALIZEs
      // its c$h CTEs for the same reason). One tiny eager job per
      // POPULATED level; the loop stops at the first empty one (a
      // level above the hierarchy's top can never repopulate).
      cur = cur.localCheckpoint(true)
      if (cur.isEmpty) drained = true
      else {
        val cnt = cur.groupBy("fl").agg(count(lit(1)).as("n"))
        val tagged = cur.join(cnt, "fl")
        val retained = tagged.where(col("n") < cap)
          .select(lit(h.toLong).as("level"), lit(1L << h).as("weight"),
            col("x"), col("id"))
        out = if (out == null) retained else out.unionByName(retained)
        cur = tagged.where(col("n") === cap)
          .withColumn("rn", row_number().over(
            Window.partitionBy("fl").orderBy("x", "id")))
          .where(col("rn") % 2 === 0)
          .select(col("x"), col("id"), expr("fl div 2").as("fl"))
      }
      h += 1
    }
    require(out != null, "empty corpus: no KLL levels")
    out
      .withColumn("slot", row_number().over(
        Window.partitionBy("level").orderBy("x", "id")).cast("long"))
      .select(col("level"), col("weight"), col("slot"),
        col("x").as("value"), col("id").as("src_id"))
      .orderBy("level", "slot")
  }

  /** Session-cached KLL state — one cascade build shared by the levels
    * face and the quantile-estimate face. */
  private def kllLevelsCached(spark: SparkSession, dir: String,
                              cap: Int, maxLevels: Int): DataFrame =
    Catalog.appCached(spark, s"kll:$dir:$cap:$maxLevels")(
      buildKllLevels(spark, dir, cap, maxLevels).localCheckpoint())

  /** KLL QUANTILE-ESTIMATE audit — the consumer readout of
    * [[sketchKllLevels]] pinned as its own oracle-checked face: per
    * probe p (exact rationals, never floats), the sketch-estimated
    * quantile = the SMALLEST retained value whose cumulative retained
    * WEIGHT reaches target = ⌈p·N⌉, next to the exact quantile under
    * the identical inverse-CDF rule on the raw lengths. Compaction
    * conserves mass (a flush halves items but doubles weights), so
    * Σ retained weights = N exactly and the two sides share one rank
    * target — every number here is an exact integer, no interpolation
    * and no floats anywhere (stricter than the q6 discipline: there is
    * nothing to quantize).
    *
    * Scale: the sketch side runs over the O(levels · cap) retained
    * state; only the exact audit column touches the corpus (one
    * value-grouped rollup + running sum), and that cost is the audit's
    * contract, not the sketch's. */
  def sketchKllQuantiles(spark: SparkSession, dir: String,
                         cap: Int = 64, maxLevels: Int = 12,
                         ps: Seq[(Int, Int)] =
                           Seq((1, 4), (1, 2), (3, 4), (9, 10))): DataFrame = {
    import spark.implicits._
    val st = kllLevelsCached(spark, dir, cap, maxLevels)
    val docs = Catalog.documents(spark, dir)
      .select(col("n_chars").cast("long").as("value"))
    val nRow = docs.agg(count(lit(1)).as("n"))
    val probes = ps.toDF("p_num", "p_den")
      .crossJoin(broadcast(nRow))
      .withColumn("target",
        expr("(n * p_num + p_den - 1) div p_den"))
    val estCum = st.groupBy("value").agg(sum("weight").as("w"))
      .withColumn("cum", sum("w").over(
        Window.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exactCum = docs.groupBy("value").agg(count(lit(1)).as("w"))
      .withColumn("cum", sum("w").over(
        Window.orderBy("value")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    def pick(cum: DataFrame, name: String): DataFrame =
      probes.join(cum, cum("cum") >= probes("target"))
        .groupBy("p_num", "p_den", "n", "target")
        .agg(min("value").as(name))
    pick(estCum, "est_q")
      .join(pick(exactCum, "exact_q"),
        Seq("p_num", "p_den", "n", "target"))
      .select(col("p_num"), col("p_den"), col("n"),
        col("target").as("target_rank"), col("est_q"), col("exact_q"))
      .orderBy("p_num", "p_den")
  }

  /** Exact sort-based linear-interpolation quantiles of `valCol` per
    * `groupCol` — the generic core behind [[docLengthQuantiles]] and
    * `SeriesOps.seriesPercentiles`. NEVER Spark's value-buffering
    * `percentile` (it collects each group's values into one aggregation
    * buffer — a whale group OOMs an executor); the rank window sort
    * spills. Emits (groupCol, p, q) with q rounded to 6 dp. */
  private[operators] def exactQuantilesOf(df: DataFrame, groupCol: String,
                                          valCol: String,
                                          ps: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // rn is 0-indexed rank by value within group; ties ordered
    // arbitrarily — every tied rank holds the same value, so the picked
    // quantile values are deterministic regardless
    val ranked = df.withColumn("rn",
      row_number().over(
        Window.partitionBy(groupCol).orderBy(valCol)) - 1)
    // (group, p) -> interpolation ranks: O(#groups × |ps|) rows —
    // groups are a bounded dimension, so these side tables are
    // metadata-sized and broadcastable. localCheckpoint'ed: `targets`
    // feeds FOUR consumers (wanted ×2 + both rank joins) and each
    // un-materialized consumer would re-run its corpus count
    // aggregation — the DAG-split reuse trap
    val targets = df.groupBy(groupCol).agg(count(lit(1)).as("n"))
      .crossJoin(spark.range(1).select(explode(typedlit(ps)).as("p")))
      .withColumn("h", col("p") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("h")).cast("long"))
      .withColumn("hi", ceil(col("h")).cast("long"))
      .localCheckpoint(true)
    val wanted = targets.select(col(groupCol), col("lo").as("rn"))
      .unionByName(targets.select(col(groupCol), col("hi").as("rn")))
      .distinct()
    // ONE pass over the ranked corpus: keep only the 2|ps| ranks per
    // group (broadcast join) and MATERIALIZE them — `picked` feeds both
    // rank joins, and un-materialized each would re-run the corpus-wide
    // window sort, doubling the dominant stage
    val picked = ranked.join(broadcast(wanted), Seq(groupCol, "rn"))
      .localCheckpoint(true)
    targets
      .join(picked.select(col(groupCol), col("rn").as("lo"),
        col(valCol).as("vlo")), Seq(groupCol, "lo"))
      .join(picked.select(col(groupCol), col("rn").as("hi"),
        col(valCol).as("vhi")), Seq(groupCol, "hi"))
      .withColumn("q", col("vlo").cast("double") +
        (col("vhi") - col("vlo")).cast("double") *
          (col("h") - col("lo").cast("double")))
      .select(col(groupCol), col("p"), q6(col("q")).as("q"))
      .orderBy(groupCol, "p")
  }

  /** The corpus WORD-COUNT feature table: one row per (doc, normalized
    * token) with its in-doc multiplicity `c`, plus the doc's lang and
    * source. The token-side analog of the shingle table: FIVE consumers
    * ([[topTerms]], [[tfidfTerms]], [[topTermsByLang]], [[langId]],
    * [[unigramLogprob]]) derive their aggregates from this one table
    * instead of each re-exploding the corpus — occurrence totals are
    * `sum(c)`, document frequencies are plain row counts (rows are
    * (doc, tok)-distinct by construction), and per-doc scores join
    * doc-keyed. Session-cached with truncated lineage (the shingle-table
    * contract): at scale this is the ingest-maintained token index a
    * query never rebuilds. */
  private[graft] def wordCounts(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"word_counts:$dir") {
      wordCountsOf(docsParallel(spark, dir), Seq("lang", "source"))
        .localCheckpoint()
    }

  /** [[wordCounts]] over an explicit docs DataFrame — ONE tokenization
    * definition for the session cache and the ingest-maintained index
    * table ([[graft.streaming.FeatureIndex]] writes this per batch), so
    * the two paths cannot drift. `carry` columns (constant per doc) ride
    * along in the group key. */
  def wordCountsOf(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keys = Seq("doc_id") ++ carry
    docs
      .select(keys.map(col) :+ explode(split(normText, " ")).as("tok"): _*)
      .groupBy((keys :+ "tok").map(col): _*)
      .agg(count(lit(1)).as("c"))
  }

  /** Vocabulary statistics: the top-k corpus terms by total occurrences
    * (tie-broken lexicographically) with document frequency — the
    * aggregate every tokenizer-training / stopword-derivation pipeline
    * starts from. Reads the shared [[wordCounts]] feature table
    * (occurrences = `sum(c)`, doc freq = row count); top-k via
    * TakeOrdered. */
  def topTerms(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    topTermsFromCounts(wordCounts(spark, dir), k)

  /** [[topTerms]] over an explicit word-count table — ONE aggregation
    * definition for the session path and the index-served face
    * (`FeatureIndex.indexedTopTerms`), so the parity contract cannot
    * drift between copies. */
  private[graft] def topTermsFromCounts(wc: DataFrame, k: Int): DataFrame =
    wc.groupBy("tok")
      .agg(sum("c").as("occurrences"),
           count(lit(1)).as("doc_freq"))
      .orderBy(desc("occurrences"), col("tok"))
      .limit(k)

  /** STOPWORD-ratio quality stats per source — the Gopher-rule signal
    * (natural prose carries a high stopword share; keyword-stuffed or
    * machine-generated listings score low). The stopword list is
    * CORPUS-DERIVED — the top-`k` terms by occurrence ([[topTerms]]'
    * exact list, so the rule is self-contained rather than
    * language-list-dependent) — and joins as a broadcast of `k` rows
    * (metadata-sized by construction). Per-doc ratio = stopword token
    * mass / token mass, both exact integers off the shared
    * [[wordCounts]] table; averaged per source. */
  def stopwordStats(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val stop = topTerms(spark, dir, k)
      .select("tok").withColumn("is_stop", lit(1L))
    wordCounts(spark, dir)
      .join(broadcast(stop), Seq("tok"), "left")
      .groupBy("doc_id", "source")
      .agg(sum("c").as("n"),
        sum(when(col("is_stop").isNotNull, col("c")).otherwise(0L)).as("sc"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        q6(avg(col("sc") * lit(1.0) / col("n"))).as("avg_stop_ratio"))
      .orderBy("source")
  }

  /** Corpus VOCABULARY-health stats (one row): vocabulary size, total
    * token mass, hapax-legomenon count (terms occurring exactly once)
    * and its vocabulary share, and the corpus type-token ratio — the
    * first-look corpus QA numbers (a synthetic or template-heavy corpus
    * shows an anomalously low TTR and hapax share; a tokenizer-training
    * run sizes its vocab against |V| and the hapax mass). All counts are
    * exact integers off the shared [[wordCounts]] feature table — one
    * vocabulary-key rollup, then a one-row aggregate; the two ratios are
    * single divisions of exact integers. */
  def vocabStats(spark: SparkSession, dir: String): DataFrame =
    wordCounts(spark, dir)
      .groupBy("tok")
      .agg(sum("c").as("cf"))
      .agg(count(lit(1)).as("vocab_size"),
           sum("cf").as("total_tokens"),
           sum(when(col("cf") === 1L, 1L).otherwise(0L)).as("hapax"))
      .select(col("vocab_size"), col("total_tokens"), col("hapax"),
        q6(col("hapax") * lit(1.0) / col("vocab_size")).as("hapax_share"),
        q6(col("vocab_size") * lit(1.0) / col("total_tokens"))
          .as("type_token_ratio"))

  /** GROUP-WISE top-k: the `k` most frequent terms PER LANGUAGE — the
    * per-stratum vocabulary view (stopword derivation per language, not
    * per corpus). A global TakeOrdered cannot express per-group limits;
    * this is the rank-filter window pattern: count per (lang, tok), then
    * `row_number` over each language's terms (occurrences desc, term asc
    * — fully deterministic) filtered to <= k. The per-language sort is a
    * partitioned external sort — vocabulary-sized groups spill, never
    * buffer. */
  def topTermsByLang(spark: SparkSession, dir: String,
                     k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    wordCounts(spark, dir)
      .groupBy("lang", "tok")
      .agg(sum("c").as("occurrences"))
      // cast: Spark's row_number is INT, DuckDB's BIGINT — the driver
      // compares schemas
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(desc("occurrences"), col("tok")))
        .cast("long"))
      .where(col("rnk") <= k)
      .select("lang", "rnk", "tok", "occurrences")
      .orderBy("lang", "rnk")
  }

  /** Deterministic train/val/test split assignment: bucket 0..19 from a
    * stable hash of doc_id (first FOUR md5 hex digits of the decimal id,
    * mod 20 — engine-agnostic, so the oracle reproduces assignments
    * exactly); 18/1/1 buckets ≈ 90/5/5. Four digits keep the modulo skew
    * negligible (65536 % 20 = 16, so bucket probabilities differ by at
    * most 1/3276 ≈ 0.03% — two digits gave train ≈ 90.6%). Hash-based
    * assignment is the standard reproducible split for training
    * pipelines: stable under re-runs, shuffles, and partial re-ingestion
    * (membership depends only on the id). Output: per (lang, split) doc
    * and char counts. */
  /** Stable md5-derived doc_id bucket in [0, mod): decode the first
    * `digits` hex nibbles (4·digits uniform bits) and reduce mod `mod` —
    * engine-agnostic, reproduced nibble-by-nibble by the DuckDB oracles.
    * Size `digits` so 16^digits >> mod or the modulo skews bucket
    * probabilities: [[trainSplit]] uses (4, 20) → ≤0.03% skew;
    * [[sourceCapSample]] uses (8, 1000) → ≤2e-7. */
  private def md5Bucket(digits: Int, mod: Long): Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, digits), 16, 10)
      .cast("long") % mod

  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    Catalog.documents(spark, dir)
      .withColumn("split", docSplit)
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"))
      .orderBy("lang", "split")

  /** TRAINING-OUTPUT SHARD assignment audit: every document mapped to
    * one of `nShards` output shards by the stable md5 bucket (the
    * [[trainSplit]] hash family — content-independent, so re-sharding a
    * grown corpus moves only the new docs' shards), with per-shard doc
    * count, char mass, and source spread — the balance numbers a
    * pretraining writer checks before `repartition(nShards, shard)`
    * materializes the shards (the rewrite itself is a storage job, not
    * a query; this face is its planning/audit read).
    *
    * Scale: one projection on the scan + a map-side-combinable
    * groupBy over nShards keys — no corpus shuffle; the hash IS the
    * shuffle key the writer will use, so the audit and the write
    * co-partition for free. Parity: md5-prefix bucketing and exact
    * integer sums only. */
  def shardAssign(spark: SparkSession, dir: String,
                  nShards: Int = 8): DataFrame =
    Catalog.documents(spark, dir)
      .withColumn("shard", md5Bucket(4, nShards))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        countDistinct("source").as("n_sources"))
      .orderBy("shard")

  /** The per-document split assignment (18/1/1 over the stable md5
    * bucket) — ONE definition shared by [[trainSplit]] and
    * [[splitLeakage]], so the reported split sizes and the leakage
    * audit can never disagree on membership. */
  private def docSplit: Column = {
    val bucket = md5Bucket(4, 20L)
    when(bucket < 18, "train")
      .when(bucket === 18, "val").otherwise("test")
  }

  /** SPLIT-LEAKAGE audit: near-dup pairs whose members land in
    * DIFFERENT train/val/test splits — the eval-integrity number a
    * doc-level random split cannot protect (near-dup clusters straddle
    * splits unless the split is cluster-keyed; a val doc whose near-dup
    * sits in train inflates eval scores). One row per unordered split
    * pair with its count; read next to `dedup_clusters` when deciding
    * whether to re-key the split by cluster id.
    *
    * Scale: the pair side is the banded, skew-capped near-dup plan;
    * split assignment is a per-row hash expression attached doc-keyed —
    * the same shape as `contamination`, with splits for sources. */
  def splitLeakage(spark: SparkSession, dir: String,
                   threshold: Double = 0.9, maxDf: Long = 64L): DataFrame = {
    val sp = Catalog.documents(spark, dir)
      .select(col("doc_id"), docSplit.as("split"))
    dedupJaccard(spark, dir, threshold, maxDf)
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
        "doc_a")
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
        "doc_b")
      .where(col("split_a") =!= col("split_b"))
      .select(least(col("split_a"), col("split_b")).as("split_lo"),
        greatest(col("split_a"), col("split_b")).as("split_hi"))
      .groupBy("split_lo", "split_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_lo", "split_hi")
  }

  /** Intra-document REPETITION ratio per source — the Gopher/C4-style
    * quality rule that catches boilerplate and degenerate generation:
    * for each doc, 1 − (distinct word-3-grams / total 3-gram positions)
    * (0 for docs under 3 words), averaged per source. Reuses the
    * shingle machinery: distinct counts come from the same explosion
    * every dedup op shares; totals are pure length arithmetic — one
    * extra aggregation, no new scan shape. */
  def docRepetition(spark: SparkSession, dir: String): DataFrame =
    withDocRepetition(spark, dir,
      docsParallel(spark, dir).select("doc_id", "source", "text"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           q6(avg("rep")).as("avg_repetition"))
      .orderBy("source")

  /** CROSS-document duplicated-span mass per source — the substring-level
    * dedup decision input (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): of each source's distinct word-3-gram
    * (doc, gram) entries, the fraction whose gram also appears in at
    * least one OTHER corpus document. Near-dup ops answer "which doc
    * pairs overlap"; this answers "how much text mass would a
    * span-level dedup remove, per source" — readable before paying for
    * one.
    *
    * Scale: reuses the session-cached shingle table; the gram
    * document-frequency is one map-side-combinable aggregation on the
    * 8-byte hash, joined back one-row-per-key (no pair explosion, no df²
    * skew — a hot gram contributes one counter and |docs| joined rows,
    * exactly its input size); the doc→source attach is a doc-cardinality
    * equi-join. Everything is linear in the shingle table. */
  /** The APPLY stage for span-level dedup — the deployable reduction of
    * Lee et al. 2022's span removal to a document filter: keep documents
    * whose corpus-DUPLICATED distinct word `n`-gram share is at most
    * `maxDupFrac` (docs too short for any gram pass vacuously). The span
    * unit is a LONG gram (n = 13, the decontamination length) rather
    * than the 3-gram dedup shingle: long spans shared across documents
    * are verbatim copying — exact copies score 1.0, template assemblies
    * high — while 3-grams collide by chance on any finite vocabulary
    * (the `span_dup_stats` view measures that background; a filter must
    * not fire on it). Actual span EXCISION is a corpus rewrite left to
    * the storage job, like every other apply stage here.
    *
    * Scale: the gram pass is the native one-pass hasher
    * (`graft_word_ngram_hashes`), then the same linear df rollup +
    * one-row-per-key join shape as `span_dup_stats` — no pair
    * explosion; the keep predicate is one exact integer-ratio
    * comparison per doc. Output contract matches the other apply
    * stages: id + metadata. The closing
    * global `orderBy` is the ORACLE HARNESS's determinism contract, not
    * part of the operator — a production rewrite job drops it (sorting
    * the surviving corpus serves no consumer). */
  /** The session-cached distinct `n`-gram span table (doc_id, source, h)
    * — the decontamination-window feature table (n = 13, Lee et al.
    * 2022) that [[spanDedupApply]], [[contaminationNgram]] and
    * [[spanExcise]]'s duplicated-hash set previously each re-derived
    * with their own corpus gram pass (r19, guide §2.4 — the
    * [[shinglesCached]] / wordCounts contract: one explosion per
    * session, ingest-maintained at scale; every consumer reads the
    * materialized 8-byte-keyed rows). */
  private def spanGramsCached(spark: SparkSession, dir: String,
                              n: Int): DataFrame =
    Catalog.appCached(spark, s"span_grams:$dir:$n")(
      docsParallel(spark, dir)
        .select(col("doc_id"), col("source"), explode(array_distinct(
          graft.functions.GraftFunctions.wordNgramHashes(normText, n)))
          .as("h"))
        .localCheckpoint())

  def spanDedupApply(spark: SparkSession, dir: String,
                     maxDupFrac: Double = 0.5, n: Int = 13): DataFrame = {
    val sh = spanGramsCached(spark, dir, n).select("doc_id", "h")
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup"))
    Catalog.documents(spark, dir)
      .select("doc_id", "lang", "source", "n_chars")
      .join(perDoc, Seq("doc_id"), "left")
      .where(col("total").isNull ||
        col("dup") * lit(1.0) / col("total") <= maxDupFrac)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Sub-document SPAN EXCISION — the actual Lee et al. 2022 operator,
    * not just its planning face (r17-VERDICT item 2): for every AFFECTED
    * document, the text with its corpus-duplicated `n`-gram RUNS removed,
    * proven driver-side by digest (the `pii_redact` precedent — emitting
    * md5(rewritten text) makes the rewrite itself oracle-checked, while
    * the full rewritten corpus stays a storage-job output at scale). A
    * word position is EXCISED iff it is covered by at least one `n`-gram
    * (n = 13, the decontamination span length [[spanDedupApply]] gates
    * on) that also occurs in ≥ 1 OTHER document (df ≥ 2 over distinct
    * (doc, gram) entries — the same duplication definition as the
    * planning face, so plan and rewrite cannot disagree); overlapping
    * duplicated grams merge into runs by position-set union. Exact
    * copies excise to the empty string (md5("") — well-defined);
    * `n_removed`/`n_words` is the per-doc mass the rewrite takes out.
    *
    * Scale: the gram pass is the native one-pass rolling hasher
    * ([[graft.functions.GraftFunctions.wordNgramHashes]]); df is one
    * map-side-combinable rollup on the 8-byte hash; covered positions
    * explode O(n) per duplicated gram START (bounded by n × dup
    * positions, itself ≤ n × doc length) and the rebuild is one
    * per-doc codegen'd `filter`+`array_join` — no pair join anywhere,
    * linear in the gram table like the planning face. The closing
    * orderBy is the oracle harness's determinism contract. */
  def spanExcise(spark: SparkSession, dir: String, n: Int = 13): DataFrame =
    // the duplicated-hash set comes from the shared session-cached span
    // table (r19) — identical df ≥ 2 definition over the same distinct
    // (doc, gram) entries the self-contained form derives
    spanExciseDocs(docsParallel(spark, dir), n,
      dupHashesOpt = Some(spanGramsCached(spark, dir, n)
        .groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2).select("h")))

  /** [[spanExcise]] over an explicit (doc_id, text) DataFrame — the
    * [[sessionizeDf]] convention, so the suite can drive the
    * multi-run-excision branch on a constructed corpus (the fixture's
    * partial excisions happen to be single-run at n = 13).
    * `dupHashesOpt` optionally supplies the df ≥ 2 duplicated-hash set
    * (the registered face passes the session-cached span table's); when
    * absent it derives from `docs` itself — same definition either way.
    *
    * r19 (guide §2.4/§5): the base checkpoint is LAZY (no blocking job
    * at plan-build), and the former coverage chain — position explode →
    * (doc, i) distinct → per-doc collect, PLUS a second per-doc rollup
    * for the gram count, PLUS the join reuniting them — folds into ONE
    * doc-keyed rollup of the duplicated gram STARTS with the coverage
    * set derived WITHIN the row (flatten → array_distinct → sort: the
    * same sorted distinct position set, 13× fewer collected elements),
    * n_removed = its size, n_dup_grams = the same row count. */
  private[graft] def spanExciseDocs(docs: DataFrame, n: Int,
      dupHashesOpt: Option[DataFrame] = None): DataFrame = {
    val base = docs
      .select(col("doc_id"), split(normText, " ").as("ws"),
        graft.functions.GraftFunctions.wordNgramHashes(normText, n).as("gh"))
      .localCheckpoint() // two consumers: the df chain + the rebuild
    val grams = base.select(col("doc_id"),
      posexplode(col("gh")).as(Seq("p", "h")))
    val dupHashes = dupHashesOpt.getOrElse(
      grams.select("doc_id", "h").distinct()
        .groupBy("h").agg(count(lit(1)).as("df"))
        .where(col("df") >= 2).select("h"))
    val perDoc = grams.join(dupHashes, "h")
      .groupBy("doc_id")
      .agg(collect_list(col("p").cast("long")).as("ps"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("cov", sort_array(array_distinct(flatten(
        transform(col("ps"), p => sequence(p + 1, p + n))))))
    base.join(perDoc, "doc_id")
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        col("n_dup_grams"), size(col("cov")).cast("long").as("n_removed"),
        md5(array_join(
          expr(s"filter(ws, (w, i) -> NOT array_contains(cov, " +
            "CAST(i + 1 AS BIGINT)))"), " ")).as("excised_md5"))
      .orderBy("doc_id")
  }

  /** Per-source SPAN-EXCISION mass — the post-rewrite readout next to
    * [[spanDupStats]]' pre-rewrite view: per source, how many docs the
    * excision touches and what fraction of their word mass it removes
    * (`span_dup_stats` measures what COULD be removed corpus-wide;
    * this measures what [[spanExcise]] actually takes out, per source —
    * the number a curation owner reads before approving the rewrite).
    * Docs untouched by the excision count in `n_docs` with zero
    * removal. Scale: the per-doc ledger is [[spanExcise]]'s linear
    * chain; the rollup is one doc-keyed join + O(#sources). */
  def spanExciseStats(spark: SparkSession, dir: String,
                      n: Int = 13): DataFrame = {
    val ex = spanExcise(spark, dir, n)
      .select(col("doc_id"), col("n_removed"))
    Catalog.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(normText, " ")).cast("long").as("nw"))
      .join(ex, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_removed").isNotNull, 1L).otherwise(0L))
          .as("n_affected"),
        sum("nw").as("n_words"),
        sum(coalesce(col("n_removed"), lit(0L))).as("n_removed"))
      .select(col("source"), col("n_docs"), col("n_affected"),
        col("n_words"), col("n_removed"),
        q6(col("n_removed") * lit(1.0) / col("n_words"))
          .as("removed_ratio"))
      .orderBy("source")
  }

  def spanDupStats(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesCached(spark, dir).select("doc_id", "h")
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    val perDoc = sh.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup"))
    perDoc
      .join(docsParallel(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(sum("total").as("total_grams"), sum("dup").as("dup_grams"))
      .select(col("source"), col("total_grams"), col("dup_grams"),
        q6(col("dup_grams") * lit(1.0) / col("total_grams"))
          .as("dup_ratio"))
      .orderBy("source")
  }

  // ——————————————— CCNet-style paragraph-level dedup ————————————————

  /** Non-overlapping `w`-word SEGMENT table (doc_id, seg, h): the
    * corpus chopped into CCNet "paragraphs". The fixtures carry no
    * newlines, so the paragraph boundary is a deterministic fixed-width
    * word window (the last window keeps its tail); h is the xxhash64 of
    * the window's space-joined words. Distinct from the shingle table in
    * both unit and size: shingles are OVERLAPPING 3-grams (×n rows,
    * near-dup candidate generation); segments are a PARTITION of the
    * text (×n/w rows, removal units — excising one never touches its
    * neighbor). Session-cached like every feature table here: three
    * faces read it, and at 100 TB it is the materialized artifact a
    * storage-side rewrite would consume. */
  private val ParaW = 10
  /** [[paraSegs]] over an explicit (doc_id, text) DataFrame — ONE
    * segmentation definition for the session cache and the
    * ingest-maintained index table ([[graft.streaming.FeatureIndex]]
    * writes this per batch; segments are a per-row function of the
    * text, so batch-partitioned append IS the correct incremental
    * maintenance). */
  private[graft] def paraSegsOf(docs: DataFrame): DataFrame = {
    val w = ParaW
    docs
      .select(col("doc_id"), split(normText, " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0),
          ceil(size(col("ws")) / lit(w.toDouble)).cast("int") - 1)).as("seg"))
      .select(col("doc_id"), col("seg"),
        xxhash64(array_join(
          slice(col("ws"), col("seg") * w + lit(1), lit(w)), " ")).as("h"))
  }
  private def paraSegs(spark: SparkSession, dir: String): DataFrame =
    paraSegsOf(docsParallel(spark, dir))
  private def paraSegsCached(spark: SparkSession, dir: String): DataFrame =
    Catalog.appCached(spark, s"parasegs:$dir")(paraSegs(spark, dir))

  /** Corpus-wide duplicated-PARAGRAPH mass per source — the CCNet
    * pre-filter readout (Wenzek et al. 2020 dedup by paragraph hash):
    * of each source's segment instances, the fraction whose exact
    * segment text occurs more than once in the corpus. The span view
    * measures overlapping-gram mass (how much text is *covered* by any
    * duplication); this measures what a paragraph-hash dedup would
    * actually REMOVE — removal operates on partition units, not
    * overlapping grams.
    *
    * Scale: one map-side-combinable df rollup on the 8-byte segment
    * hash, joined back one-row-per-key — linear in the segment table
    * (which is w× SMALLER than the corpus token count), no pairs. */
  def paraDupStats(spark: SparkSession, dir: String): DataFrame =
    paraDupStatsFromSegs(paraSegsCached(spark, dir),
      docsParallel(spark, dir).select("doc_id", "source"))

  /** [[paraDupStats]] over an explicit segment table — ONE aggregation
    * definition for the session path and the index-served face
    * (`FeatureIndex.indexedParaDupStats`), so the parity contract
    * cannot drift between copies. */
  private[graft] def paraDupStatsFromSegs(sh: DataFrame,
                                          docsSrc: DataFrame): DataFrame = {
    val dfreq = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "h")
      .join(docsSrc, "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("total_paras"),
           sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_paras"))
      .select(col("source"), col("total_paras"), col("dup_paras"),
        q6(col("dup_paras") * lit(1.0) / col("total_paras"))
          .as("dup_ratio"))
      .orderBy("source")
  }

  /** The APPLY stage of CCNet paragraph dedup: every duplicated segment
    * keeps exactly its FIRST corpus occurrence (min (doc_id, seg) over
    * the hash group — CCNet's shard-order keep, made deterministic) and
    * every later occurrence is removed. Output is the per-document
    * survival ledger (n_para, n_kept, kept_frac) the corpus rewrite
    * consumes; like the other apply stages, the byte-level excision is
    * the storage job's.
    *
    * Scale: winner = one min(struct) aggregation per hash (map-side
    * combinable, no sort), then a one-row-per-key join back — a hot
    * paragraph (df = millions) still contributes ONE winner row and
    * |df| joined rows, its input size. The closing orderBy is the
    * oracle harness's determinism contract; production drops it. */
  def paraDedupApply(spark: SparkSession, dir: String): DataFrame = {
    val sh = paraSegsCached(spark, dir)
    val winners = sh.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg"))).as("w"))
    val perDoc = sh.join(winners, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
           sum(when(col("doc_id") === col("w.doc_id") &&
                    col("seg") === col("w.seg"), 1L).otherwise(0L))
             .as("n_kept"))
    Catalog.documents(spark, dir).select("doc_id", "lang", "source")
      .join(perDoc, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_para"), col("n_kept"),
        q6(col("n_kept") * lit(1.0) / col("n_para")).as("kept_frac"))
      .orderBy("doc_id")
  }

  /** Paragraph-level INCREMENTAL admission — CCNet's cross-shard
    * paragraph dedup at the batch boundary ([[newDocFlag]], the
    * `dedup_incremental` scenario): for each new-batch document, the
    * share of its segments already present in the indexed corpus or in
    * an earlier document of its own batch, and the admission verdict at
    * `maxDupFrac`. A doc whose paragraphs are mostly re-crawl is
    * rejected even when no single whole-doc near-dup exists — the
    * failure mode the doc-level minhash admission cannot see.
    *
    * Scale: one first-seen rollup per segment hash (map-side
    * combinable max/min, no sort) + a one-row-per-key join back —
    * linear in the segment table like every paragraph face; the gate is
    * one exact integer-ratio compare per new doc. */
  def paraDedupIncremental(spark: SparkSession, dir: String,
                           maxDupFrac: Double = 0.5): DataFrame = {
    val sh = paraSegsCached(spark, dir).withColumn("is_new", newDocFlag)
    val firstSeen = sh.groupBy("h").agg(
      max(when(!col("is_new"), lit(1)).otherwise(lit(0))).as("in_index"),
      min(when(col("is_new"), col("doc_id"))).as("first_new"))
    val perDoc = sh.where(col("is_new"))
      .join(firstSeen, "h")
      .withColumn("dup",
        col("in_index") === 1 || col("first_new") < col("doc_id"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_para"),
           sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
    Catalog.documents(spark, dir).select("doc_id", "source")
      .join(perDoc, "doc_id")
      .select(col("doc_id"), col("source"), col("n_para"), col("n_dup"),
        q6(col("n_dup") * lit(1.0) / col("n_para")).as("dup_frac"),
        (col("n_dup") * lit(1.0) / col("n_para") <= maxDupFrac)
          .as("admitted"))
      .orderBy("doc_id")
  }

  /** The most-duplicated paragraphs, with their first-occurrence winner —
    * the triage view a cleanup crew reads before shipping a paragraph
    * dedup (is the duplicated mass boilerplate or license headers?).
    * Exposes the segment TEXT (recovered by re-slicing the winner doc,
    * an O(k) second lookup, not a second corpus pass — the cached
    * segment table stores only 8-byte hashes). */
  def paraDupTop(spark: SparkSession, dir: String, k: Int = 15): DataFrame = {
    val sh = paraSegsCached(spark, dir)
    val top = sh.groupBy("h")
      .agg(count(lit(1)).as("df"),
           min(struct(col("doc_id"), col("seg"))).as("w"))
      .where(col("df") >= 2)
      .select(col("df"), col("w.doc_id").as("doc_id"), col("w.seg").as("seg"))
    val wdw = ParaW
    top.join(docsParallel(spark, dir).select(col("doc_id"),
        split(normText, " ").as("ws")), "doc_id")
      .select(col("df"),
        array_join(slice(col("ws"), col("seg") * wdw + lit(1), lit(wdw)), " ")
          .as("para"))
      .orderBy(col("df").desc, col("para"))
      .limit(k)
  }

  /** Append the per-document 3-gram repetition ratio (`rep`) to `docs`
    * (which must carry `doc_id` and `text`) — ONE definition shared by
    * [[docRepetition]] (which averages it per source) and
    * [[qualityApply]] (which gates on it), so the reported metric and
    * the applied filter can never desynchronize. Distinct-shingle
    * counts come from the SESSION-CACHED shingle table — the same
    * materialized explosion every dedup op reads; re-running shinglesOf
    * here would repeat the corpus-wide 3-gram expansion per execution. */
  private def withDocRepetition(spark: SparkSession, dir: String,
                                docs: DataFrame): DataFrame = {
    val distincts = shinglesCached(spark, dir)
      .groupBy("doc_id").agg(count(lit(1)).cast("double").as("nd"))
    docs
      .withColumn("total",
        greatest(size(split(normText, " ")) - 2, lit(0)).cast("double"))
      .join(distincts, Seq("doc_id"), "left")
      .withColumn("rep",
        when(col("total") > 0,
          lit(1.0) - coalesce(col("nd"), lit(0.0)) / col("total"))
          .otherwise(lit(0.0)))
      .drop("total", "nd")
  }

  /** Deterministic SOURCE-CAP downsampling summary — the data-mixing
    * primitive that reweights over-represented sources before training:
    * a doc survives iff `bucket(doc_id) · n_source < 1000 · cap`, where
    * bucket is the same stable [[md5Bucket]] family [[trainSplit]] draws
    * from (8 hex digits here — 32 uniform bits, so the mod-1000
    * reduction's skew is ≤2e-7, not the ~0.7% four digits would give) —
    * so each source keeps ≈min(1, cap/n) of its docs, chosen
    * reproducibly under re-runs, shuffles, and partial re-ingest (never
    * `rand()`). Pure integer comparison — both engines agree exactly.
    * Output: per-source corpus size and kept count. */
  def sourceCapSample(spark: SparkSession, dir: String,
                      cap: Long = 30): DataFrame = {
    val bucket = md5Bucket(8, 1000L)
    val counts = Catalog.documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n"))
    Catalog.documents(spark, dir)
      .select(col("doc_id"), col("source"), bucket.as("b"))
      .join(broadcast(counts), "source") // O(#sources) side
      .withColumn("kept", col("b") * col("n") < lit(1000L) * cap)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** WEIGHTED corpus subsample via PRIORITY SAMPLING (Duffield, Lund &
    * Thorup 2007) — the size-k weighted sample-without-replacement a
    * 100 TB curation pass draws when documents must be kept in
    * proportion to a mass (here `n_chars`; any integer quality weight
    * slots in): each doc gets priority `w/u` for a uniform `u`, the k
    * largest priorities are the sample, and the (k+1)-th priority τ is
    * the Horvitz–Thompson threshold (each sampled doc estimates mass
    * `max(w, τ·2⁻³²)` — the estimator stays consumer-side, the sketch
    * family discipline; τ is emitted so it CAN). Unlike
    * [[sourceCapSample]]'s per-source uniform cap, selection is
    * doc-level and weight-proportional.
    *
    * Engine-exact by construction: `u` is the doc's stable 32-bit md5
    * bucket (the [[trainSplit]] idiom — content-independent, so shards
    * draw identically and the sample is reproducible under re-ingest),
    * and the priority is the INTEGER quotient `(w · 2³²) div (u+1)` —
    * pure BIGINT arithmetic, no floats, no rand(). Scale: priorities
    * are map-side column arithmetic; top-(k+1) is TakeOrdered (O(k)
    * per partition, no global sort/shuffle); the rank window runs over
    * the ≤ k+1 selected rows only. */
  def sampleWeighted(spark: SparkSession, dir: String,
                     k: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"sample size must be positive: $k")
    val u = md5Bucket(8, 1L << 32)
    val top = Catalog.documents(spark, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("weight"),
        u.as("u"))
      .withColumn("priority", expr("(weight * 4294967296L) div (u + 1)"))
      .orderBy(desc("priority"), col("doc_id"))
      .limit(k + 1)
    // everything below runs over the <= k+1 selected rows
    val rnk = Window.orderBy(desc("priority"), col("doc_id"))
    top
      .withColumn("rnk", row_number().over(rnk).cast("long"))
      .withColumn("tau", coalesce(
        max(when(col("rnk") === (k + 1), col("priority")))
          .over(Window.partitionBy()),
        lit(0L)))
      .where(col("rnk") <= k)
      .select("rnk", "doc_id", "weight", "priority", "tau")
      .orderBy("rnk")
  }

  /** Source-MIXTURE re-weighting — the sampling-weight table a pretraining
    * dataloader consumes (the mixing step of Pile/LLaMA-style recipes):
    * per source, its whitespace-token mass and corpus share, the sampling
    * weight that moves the mixture toward a UNIFORM per-source target
    * (`weight = target_share / actual_share = total / (S · tokens)`),
    * capped at `maxWeight` effective epochs (an under-represented source
    * is repeated at most `maxWeight` times, the standard guard against
    * overfitting tiny sources), and the resulting effective share after
    * the cap re-normalizes.
    *
    * Arithmetic is engine-exact: every ratio is a single division of
    * exact integer aggregates (`total·1.0 / (S·tokens)`), so the capped
    * weight is bit-identical across engines; only the |S|-element
    * re-normalization sum is order-dependent (rounded 6 dp).
    *
    * Scale: one scan + a |sources|-key map-side-combinable rollup; the
    * unpartitioned windows run over the |S|-row ROLLUP only (the
    * `ivf_cell_stats` pattern), never the corpus. */
  def mixWeights(spark: SparkSession, dir: String,
                 maxWeight: Double = 3.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    Catalog.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .withColumn("total", sum("n_tokens").over(all))
      .withColumn("n_sources", count(lit(1)).over(all))
      .withColumn("weight",
        least(col("total") * lit(1.0) / (col("n_sources") * col("n_tokens")),
          lit(maxWeight)))
      .withColumn("eff_share",
        q6(col("n_tokens") * col("weight") /
          sum(col("n_tokens") * col("weight")).over(all)))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        q6(col("n_tokens") * lit(1.0) / col("total")).as("share"),
        q6(col("weight")).as("weight"), col("eff_share"))
      .orderBy("source")
  }

  /** TEMPERATURE-scaled source mixing (the XLM-R / mT5 sampling rule,
    * Conneau et al. 2020: p_s ∝ n_s^α) at α = 1/2 — the OTHER standard
    * mixing scheme next to [[mixWeights]]' capped-uniform target: instead
    * of clamping each source toward uniform, the exponent FLATTENS the
    * size distribution smoothly (big sources are tempered, small ones
    * up-sampled, ordering preserved). α = 1/2 makes the scaled mass an
    * integer square root — `floor(sqrt(n))`, EXACT in both engines
    * because IEEE-754 `sqrt` is correctly rounded (unlike ln/exp, which
    * the house convention quantizes): for n < 2^52 with √n ∈ (k, k+1)
    * the nearest double to the irrational root can never cross an
    * integer (the gap to k is ≥ 1/(2√n) ≫ ulp), and perfect squares are
    * exactly representable — so every compared number here is an exact
    * integer or an exact-integer ratio. Emits per source: token mass,
    * the tempered weight, and integer-division quotas of a fixed
    * sampling `budget` under BOTH the raw (α = 1) and tempered (α = ½)
    * distributions, so the flattening is oracle-visible as the quota
    * shift. Scale: one corpus scan → O(#sources) rollup; windows run
    * over the |S|-row aggregate only. */
  def mixTemperature(spark: SparkSession, dir: String,
                     budget: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val all = Window.partitionBy()
    Catalog.documents(spark, dir)
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
      .withColumn("temp_weight", floor(sqrt(col("n_tokens"))).cast("long"))
      .withColumn("tot_tokens", sum("n_tokens").over(all))
      .withColumn("tot_weight", sum("temp_weight").over(all))
      .withColumn("raw_quota",
        expr(s"(n_tokens * ${budget}L) div tot_tokens"))
      .withColumn("temp_quota",
        expr(s"(temp_weight * ${budget}L) div tot_weight"))
      .select("source", "n_docs", "n_tokens", "temp_weight",
        "raw_quota", "temp_quota")
      .orderBy("source")
  }

  /** Cross-source contamination check: near-duplicate pairs (3-gram
    * jaccard >= threshold) whose two documents come from DIFFERENT
    * sources — the standard pre-training leak scan (e.g. benchmark text
    * duplicated inside a crawl source). Reuses the near-dup machinery:
    * candidate generation + exact verify, then a broadcast-sized join back
    * to (doc → source).
    *
    * Runs the SKEW-CAPPED jaccard plan (`maxDf`, default 64 — the same cap
    * the registered `dedup_jaccard` uses): a contamination scan is the op
    * most likely to run over a full crawl + benchmark corpus, where one
    * boilerplate shingle in millions of docs would make the uncapped
    * shingle self-join a df² blowup. The cap prunes candidate GENERATION
    * only; emitted pairs are identical (see [[dedupJaccard]]). */
  def contamination(spark: SparkSession, dir: String,
                    threshold: Double = 0.9, maxDf: Long = 64L): DataFrame = {
    val src = Catalog.documents(spark, dir).select("doc_id", "source")
    dedupJaccard(spark, dir, threshold, maxDf)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
      .where(col("source_a") =!= col("source_b"))
      .select("doc_a", "doc_b", "source_a", "source_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** GPT-3/PaLM-style N-GRAM decontamination scan: every non-benchmark
    * document sharing at least one exact word `n`-gram (n = 13, the
    * canonical choice) with ANY benchmark-source document, with its
    * shared-distinct-gram count. The SECOND decontamination lens next to
    * [[contamination]]'s whole-doc jaccard: a doc that embeds one verbatim
    * benchmark answer inside otherwise-original text never reaches
    * jaccard 0.9, but one shared 13-gram flags it here.
    *
    * Scale: the benchmark side reduces to its DISTINCT gram hashes
    * (benchmark suites are orders of magnitude smaller than the crawl but
    * not driver-metadata — it stays a plain shuffle join on the 8-byte
    * gram-hash key, never a broadcast hint); the crawl side explodes
    * to (doc, gram)-distinct rows, and the flagged rollup is doc-keyed
    * map-side-combinable. Unlike the 3-gram shingle index, 13-gram df
    * skew is no concern: a gram shared by many docs is exactly the
    * verbatim-leak signal this scan exists to count. */
  def contaminationNgram(spark: SparkSession, dir: String,
                         benchSources: Seq[String] = Seq("src12", "src18"),
                         n: Int = 13): DataFrame = {
    // native one-pass gram hasher (graft.functions.GraftFunctions
    // .wordNgramHashes): the HOF form allocated and xxhash'ed an ~n-word
    // string per window — O(len·n) bytes touched per doc and 10× the
    // median query cost at n = 13; the native expression FNV-hashes each
    // word once and rolls an O(1) polynomial over word hashes, all
    // inside whole-stage codegen
    // r19: reads the shared session-cached span table (one native gram
    // pass per session, not one per consumer — both branches below read
    // materialized rows)
    val g = spanGramsCached(spark, dir, n)
    val isBench = col("source").isInCollection(benchSources)
    val benchH = g.where(isBench).select("h").distinct()
    g.where(!isBench)
      .join(benchH, "h")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** PARAGRAPH-level decontamination scan — the CCNet-unit complement
    * of [[contaminationNgram]]'s fixed 13-gram window: every
    * non-benchmark document sharing at least one exact SEGMENT (the
    * 10-word partition unit) with any benchmark-source document, with
    * its distinct shared-segment count. A fixed n-gram catches verbatim
    * spans at any alignment; the segment unit catches whole eval
    * paragraphs pasted at segment granularity and reads straight off
    * the session-cached (at 100 TB, ingest-persisted) segment table —
    * no second gram pass over the corpus.
    *
    * Scale: benchmark side reduced to distinct 8-byte segment hashes,
    * one hash-keyed join, doc-keyed map-side-combinable rollup — the
    * contaminationNgram shape on a w× smaller table. */
  def contaminationPara(spark: SparkSession, dir: String,
                        benchSources: Seq[String] =
                          Seq("src12", "src18")): DataFrame =
    contaminationParaFromSegs(paraSegsCached(spark, dir),
      Catalog.documents(spark, dir).select("doc_id", "source"),
      benchSources)

  /** [[contaminationPara]] over an explicit segment table — ONE
    * definition for the session path and the index-served face
    * (`FeatureIndex.indexedContaminationPara`). */
  private[graft] def contaminationParaFromSegs(
      segs: DataFrame, docsSrc: DataFrame,
      benchSources: Seq[String]): DataFrame = {
    val g = segs.select("doc_id", "h").join(docsSrc, "doc_id")
      .dropDuplicates("doc_id", "h")
    val isBench = col("source").isInCollection(benchSources)
    val benchH = g.where(isBench).select("h").distinct()
    g.where(!isBench)
      .join(benchH, "h")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("doc_id")
  }

  /** The [[contamination]] pair list rolled up to the LEAK MATRIX: one
    * row per UNORDERED source pair with its cross-source near-dup pair
    * count — the view that says WHICH benchmark leaked into WHICH crawl
    * (and how badly), where the pair listing says only that leaks exist.
    * Canonicalized (least, greatest) so direction never splits a cell. */
  def contaminationMatrix(spark: SparkSession, dir: String,
                          threshold: Double = 0.9, maxDf: Long = 64L): DataFrame =
    contamination(spark, dir, threshold, maxDf)
      .select(least(col("source_a"), col("source_b")).as("source_lo"),
        greatest(col("source_a"), col("source_b")).as("source_hi"))
      .groupBy("source_lo", "source_hi")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_lo", "source_hi")

  /** The DECONTAMINATION apply stage — the training corpus a pipeline
    * actually feeds the trainer after a leak scan: every document that
    * is (1) NOT from a benchmark source (the eval sets are never
    * training data) and (2) not a cross-source near-dup of any
    * benchmark-source document ([[contamination]] pairs at >=
    * `threshold`). Completes the measure→apply symmetry the engine has
    * for quality (`quality_score`/`quality_apply`) and dedup
    * (`dedup_clusters`/`dedup_apply`) on the leak scan.
    *
    * Scale: the contaminated-id side is leak-sized (a subset of the
    * banded, skew-capped near-dup pairs); like `dedup_apply`, the
    * anti-join carries NO broadcast hint — AQE broadcasts iff the leak
    * set is actually small. Benchmark membership is an O(|bench|)
    * literal predicate pushed to the scan. The closing
    * global `orderBy` is the ORACLE HARNESS's determinism contract, not
    * part of the operator — a production rewrite job drops it (sorting
    * the surviving corpus serves no consumer). */
  def contaminationApply(spark: SparkSession, dir: String,
                         bench: Seq[String], threshold: Double = 0.9,
                         maxDf: Long = 64L): DataFrame = {
    require(bench.nonEmpty, "at least one benchmark source is required")
    val pairs = contamination(spark, dir, threshold, maxDf)
    val isB = (c: Column) => c.isin(bench: _*)
    // r19 fold (guide §2.4): the two direction branches are DISJOINT —
    // a pair cannot be bench→crawl in both directions — so one
    // when-chain over ONE pass of the pair stream emits exactly the id
    // multiset the former two-filter unionAll produced; that union
    // embedded the whole capped near-dup subtree TWICE in the plan
    // (the r18 baseline's 69-exchange outlier), re-running candidate
    // generation and verification per branch.
    val contaminated = pairs
      .select(when(isB(col("source_a")) && !isB(col("source_b")),
          col("doc_b"))
        .when(isB(col("source_b")) && !isB(col("source_a")),
          col("doc_a")).as("doc_id"))
      .where(col("doc_id").isNotNull)
      .distinct()
    Catalog.documents(spark, dir)
      .where(!isB(col("source")))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** COUNT-MIN SKETCH audit over the corpus vocabulary (Cormode &
    * Muthukrishnan 2005): a `depth` × `width` sketch of token
    * frequencies built in one map-side-combinable pass, probed at the
    * top-`k` exact terms so the one-sided guarantee (estimate ≥ exact,
    * overcount ≤ εN with probability 1−δ) is driver-visible — the
    * fixed-memory frequency structure a 100 TB ingest keeps where an
    * exact vocabulary table cannot fit (the `event_heavy_hitters_approx`
    * pattern applied to token mass).
    *
    * Every hash is the oracle-reproducible md5 idiom
    * ([[minhashSignaturesOf]]'s hex-digit decode): the `depth` rows are
    * disjoint 8-digit slices of one digest per token — independent by
    * digest uniformity, one md5 per vocabulary key total. Scale: the
    * sketch is `depth·width` cells REGARDLESS of
    * corpus size (built map-side off the shared [[wordCounts]] feature
    * table), broadcast onto the O(k·depth) probe rows; the exact top-k
    * is TakeOrdered. Parity: everything is exact integer counts and
    * modular arithmetic — no floats anywhere. */
  def sketchCmsTopk(spark: SparkSession, dir: String, depth: Int = 4,
                    width: Int = 512, k: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 4, s"depth must be in [1,4]: $depth")
    // the depth rows hash by DISJOINT 8-hex-digit (32-bit) slices of ONE
    // md5 digest per token — independent by digest uniformity at a
    // quarter of the salted-digest-per-row cost, and the digest is
    // materialized in the checkpoint so the build pass hashes each
    // vocabulary key exactly once
    val counts = wordCounts(spark, dir)
      .groupBy("tok").agg(sum("c").as("cnt"))
      .withColumn("dig", md5(col("tok")))
      .localCheckpoint(true)
    def bucket(j: Int): Column =
      conv(substring(col("dig"), 1 + 8 * j, 8), 16, 10)
        .cast("long") % width
    def buckets: Column = explode(array((0 until depth).map(j =>
      struct(lit(j).as("row_id"), bucket(j).as("bucket"))): _*))
    val cells = counts.select(buckets.as("b"), col("cnt"))
      .groupBy(col("b.row_id").as("row_id"), col("b.bucket").as("bucket"))
      .agg(sum("cnt").as("cell_sum"))
    val top = counts
      .orderBy(desc("cnt"), col("tok"))
      .limit(k)
    val probes = top
      .select(col("tok"), col("cnt"), buckets.as("b"))
      .select(col("tok"), col("cnt"),
        col("b.row_id").as("row_id"), col("b.bucket").as("bucket"))
    probes.join(broadcast(cells), Seq("row_id", "bucket"))
      .groupBy("tok", "cnt")
      .agg(min("cell_sum").as("cms_estimate"))
      .select(col("tok"), col("cnt").as("exact_count"),
        col("cms_estimate"),
        (col("cms_estimate") - col("cnt")).as("overcount"))
      .orderBy(desc("exact_count"), col("tok"))
  }

  /** COUNT-SKETCH frequency audit (Charikar, Chen & Farach-Colton 2002)
    * — the TWO-SIDED, UNBIASED estimator next to [[sketchCmsTopk]]'s
    * one-sided count-min: each of `depth` rows hashes a token to a
    * bucket AND a ±1 sign, cells accumulate SIGNED counts (colliding
    * tokens cancel in expectation instead of always inflating), and the
    * per-token estimate is the exact integer MEDIAN of the `depth`
    * signed row reads — which is why `depth` is odd (the median is an
    * element, never an interpolation: every compared number stays an
    * exact integer). Probed at the exact top-`k` terms so the contract
    * difference from count-min is oracle-visible: `error` is SIGNED
    * (under- and over-counts both live at width 16 < vocabulary) where
    * CMS's `overcount` is provably ≥ 0.
    *
    * Hashing is the [[sketchCmsTopk]] one-digest idiom: row `j` reads a
    * disjoint 6-hex-digit (24-bit) slice of the token's single md5 —
    * bucket = slice mod `width` (its LOW bits), sign = the slice's TOP
    * bit (first digit ≥ 8) — disjoint bit fields of one uniform digest,
    * one md5 per vocabulary key total. Scale: the sketch is
    * `depth·width` cells regardless of corpus size, built map-side off
    * the shared [[wordCounts]] feature table and broadcast onto the
    * O(k·depth) probe rows; exact top-k is TakeOrdered. This is the
    * fixed-memory structure inner-product / second-moment estimation
    * keeps at 100 TB where CMS's all-positive bias is unacceptable. */
  def sketchCountSketch(spark: SparkSession, dir: String, depth: Int = 5,
                        width: Int = 16, k: Int = 20): DataFrame = {
    require(depth >= 1 && depth <= 5 && depth % 2 == 1,
      s"depth must be odd and in [1,5]: $depth")
    val counts = wordCounts(spark, dir)
      .groupBy("tok").agg(sum("c").as("cnt"))
      .withColumn("dig", md5(col("tok")))
      .localCheckpoint(true)
    def slice(j: Int): Column =
      conv(substring(col("dig"), 1 + 6 * j, 6), 16, 10).cast("long")
    def sign(j: Int): Column =
      when(conv(substring(col("dig"), 1 + 6 * j, 1), 16, 10)
        .cast("int") >= 8, 1L).otherwise(-1L)
    def rows: Column = explode(array((0 until depth).map(j =>
      struct(lit(j).as("row_id"), (slice(j) % width).as("bucket"),
        sign(j).as("sgn"))): _*))
    val cells = counts.select(rows.as("b"), col("cnt"))
      .groupBy(col("b.row_id").as("row_id"), col("b.bucket").as("bucket"))
      .agg(sum(col("b.sgn") * col("cnt")).as("cell_sum"))
    val probes = counts
      .orderBy(desc("cnt"), col("tok"))
      .limit(k)
      .select(col("tok"), col("cnt"), rows.as("b"))
      .select(col("tok"), col("cnt"), col("b.row_id").as("row_id"),
        col("b.bucket").as("bucket"), col("b.sgn").as("sgn"))
    probes.join(broadcast(cells), Seq("row_id", "bucket"))
      .groupBy("tok", "cnt")
      .agg(element_at(array_sort(
        collect_list(col("sgn") * col("cell_sum"))),
        (depth + 1) / 2).as("cs_estimate"))
      .select(col("tok"), col("cnt").as("exact_count"),
        col("cs_estimate"),
        (col("cs_estimate") - col("cnt")).as("error"))
      .orderBy(desc("exact_count"), col("tok"))
  }

  /** BLOOM-FILTER decontamination audit: the benchmark shingle set
    * compressed to `kHash` bit positions per shingle in an `m`-slot
    * filter (Bloom 1970), membership-tested over every non-benchmark
    * document's shingles, with the EXACT join alongside so the filter's
    * one-sided contract (no false negatives; false-positive shingles
    * counted per doc) is oracle-checked — the fixed-memory pre-screen a
    * 100 TB decontamination pass runs before any exact gram join
    * ([[contaminationNgram]]'s exact chain is the post-filter stage).
    *
    * Scale: the SET BITS table is ≤ `kHash·m` rows regardless of
    * benchmark size — AQE broadcasts it onto the shingle probes (the
    * hint is deliberately omitted: the side is past the hint rail's
    * fixture-relative metadata floor, the ann_pq_topk ADC convention),
    * so the screening pass is one broadcast-hash join over the
    * session-cached (at 100 TB, ingest-persisted) shingle table with NO
    * shuffle of the corpus side; only the audit's exact branch pays the
    * hash-keyed bench join, and a production screen drops it. Parity:
    * positions are the md5-decode modular idiom — pure integer
    * arithmetic. */
  def contaminationBloom(spark: SparkSession, dir: String,
                         benchSources: Seq[String] = Seq("src12", "src18"),
                         kHash: Int = 3, m: Int = 8192): DataFrame = {
    val meta = Catalog.documents(spark, dir).select("doc_id", "source")
    val sh = shinglesCached(spark, dir).join(meta, "doc_id")
    val isBench = col("source").isInCollection(benchSources)
    require(kHash >= 1 && kHash <= 3, s"kHash must be in [1,3]: $kHash")
    // the kHash positions are DISJOINT 10-hex-digit (40-bit) slices of
    // ONE md5 digest — independent by digest uniformity at a third of
    // the salted-digest-per-row cost, and the digest is materialized in
    // the checkpoint so it is computed once per shingle row, not once
    // per (shingle, hash row)
    def posOf(i: Int): Column =
      conv(substring(col("dig"), 1 + 10 * i, 10), 16, 10).cast("long") % m
    def positions: Column = explode(array((0 until kHash).map(i =>
      struct(lit(i).as("i"), posOf(i).as("pos"))): _*))
    // r19 fold (guide §2.4/§5, VERDICT r18 item 6): the former shape
    // EAGER-checkpointed an md5 digest table PER SIDE (two blocking
    // jobs and a corpus-sized materialization per query) and ran THREE
    // per-doc rollups (n_shingles / n_flagged / n_exact) reunited by
    // two doc-keyed join-backs. Folded: the bit hits ride ONE left join
    // whose kHash-per-shingle fanout collapses map-side (partial
    // aggregation on (doc_id, h) — rows for one shingle are co-located
    // by construction), the exact-membership flag joins the bench hash
    // set once on the aggregated rows, and one per-doc aggregation
    // emits all three counts. Same integers row for row: nbits sums
    // exactly the inner-join hit count, the ex flag replays the exact
    // join's multiplicity (benchH is distinct), and docs with zero full
    // hits drop on the same n_flagged > 0 gate the old
    // left-join/coalesce produced.
    // internal keys are the shingle table's 8-byte `h`, never the
    // shingle string (the shinglesCached house convention: fixed-width
    // shuffle keys). Only the BENCHMARK-sized side is checkpointed (it
    // has two consumers: filter bits + the exact-membership join); the
    // corpus-sized test side is consumed exactly ONCE by the probe
    // chain, so the former corpus-sized test checkpoint — a full extra
    // materialization per invocation — is gone entirely.
    val benchH = sh.where(isBench).select("h", "s").distinct()
      .select(col("h"), md5(col("s")).as("dig"))
      .localCheckpoint()
    // bits is <= kHash·m rows by construction but past the hint rail's
    // fixture-relative metadata floor — left to AQE per the house
    // convention (the ann_pq_topk ADC precedent): at any real scale AQE
    // observes the small side and broadcasts it itself
    val bits = benchH.select(positions.as("b"))
      .select(col("b.i").as("i"), col("b.pos").as("pos")).distinct()
    val perShingle = sh.where(!isBench)
      .select(col("doc_id"), col("h"), md5(col("s")).as("dig"))
      .select(col("doc_id"), col("h"), positions.as("b"))
      .select(col("doc_id"), col("h"),
        col("b.i").as("i"), col("b.pos").as("pos"))
      .join(bits.withColumn("hit", lit(1L)), Seq("i", "pos"), "left")
      .groupBy("doc_id", "h")
      .agg(sum("hit").as("nbits"))
      .join(benchH.select(col("h"), lit(1L).as("ex")), Seq("h"), "left")
    perShingle
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("nbits") === kHash, 1L).otherwise(0L)).as("n_flagged"),
        sum(coalesce(col("ex"), lit(0L))).as("n_exact"))
      .where(col("n_flagged") > 0)
      .select(col("doc_id"), col("n_shingles"), col("n_flagged"),
        col("n_exact"),
        (col("n_flagged") - col("n_exact")).as("n_false_pos"))
      .orderBy("doc_id")
  }

  /** The QUALITY-FILTER apply stage — the kept corpus after the
    * C4/Gopher-style heuristic gates, the filter a pretraining pipeline
    * applies between raw crawl and dedup: keep a document iff
    * (1) its heuristic quality score (the exact per-doc formula
    * [[qualityScore]] averages) >= `minScore`, (2) `n_chars` >=
    * `minChars`, and (3) its intra-doc 3-gram repetition (the exact
    * per-doc ratio [[docRepetition]] averages) <= `maxRep`. Output is
    * id + metadata like [[dedupApply]] — the corpus rewrite that applies
    * survivorship is a storage job, not a query.
    *
    * Scale: the score and length gates are codegen arithmetic ON the
    * scan (no join, pushable); only the repetition gate joins — one
    * doc-keyed join against the distinct-shingle counts from the
    * SESSION-CACHED shingle table every dedup op already shares (no new
    * corpus-wide explosion). The closing
    * global `orderBy` is the ORACLE HARNESS's determinism contract, not
    * part of the operator — a production rewrite job drops it (sorting
    * the surviving corpus serves no consumer). */
  def qualityApply(spark: SparkSession, dir: String, minScore: Double = 0.8,
                   minChars: Long = 150, maxRep: Double = 0.02): DataFrame =
    withDocRepetition(spark, dir, docsParallel(spark, dir)
        .select("doc_id", "lang", "source", "n_chars", "text"))
      .where(docQualityScore >= minScore && col("n_chars") >= minChars &&
        col("rep") <= maxRep)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Sequence-PACKING planner — the step every LLM pretraining pipeline
    * runs between the filtered corpus and the trainer: documents are
    * concatenated in a deterministic order and chunked into fixed
    * token-budget training sequences; a document's sequence id is the
    * chunk its FIRST token falls in (concat-and-split packing). Output:
    * one row per (shard, sequence) with its document count and token
    * sum — the packing plan a writer job materializes.
    *
    * Scale: packing is sequential BY DEFINITION (a running token sum), so
    * the 100 TB shape shards the corpus first — the stable md5 bucket of
    * doc_id ([[md5Bucket]], engine-agnostic and reproducible under
    * re-ingest) — and packs each shard independently: one window per
    * shard partition (external sort — spills at any shard size), shard
    * count co-sized with cluster width. This mirrors production packing,
    * which packs per output file/worker, never globally. Token counts are
    * the same `\\w+|[^\\w\\s]` regex as `token_count`; integer `div` for
    * the chunk index, so both engines agree exactly. */
  def packSequences(spark: SparkSession, dir: String,
                    budget: Long = 2048, shards: Long = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"token budget must be positive: $budget")
    val tok = size(regexp_extract_all(col("text"),
      lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsParallel(spark, dir)
      .select(col("doc_id"), md5Bucket(4, shards).as("shard"), tok.as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .withColumn("seq", expr(s"(cum - tok) div $budget"))
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("seq_tokens"))
      .orderBy("shard", "seq")
  }

  /** [[packSequences]] at the TRAINED tokenizer's lengths: per-doc cost
    * is the subword count at the session-trained BPE merge state
    * ([[bpeApply]]'s single definition — the packer and the tokenizer
    * report cannot disagree on a document's length), not the regex
    * word-count proxy. This is the packing a trainer actually pays:
    * budget overruns measured in regex tokens disappear or double once
    * a real subword vocabulary is applied, so the proxy face
    * over-/under-fills shards the moment the tokenizer changes.
    *
    * Scale: the per-doc length table is the [[bpeApply]] join
    * (vocabulary-sized merge table, session-cached training chain); the
    * pack chain is the same stable-shard cumulative window as
    * [[packSequences]] — per-shard sort where the shard lives, no
    * global order. */
  def packSequencesBpe(spark: SparkSession, dir: String,
                       budget: Long = 2048, shards: Long = 8,
                       rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, s"token budget must be positive: $budget")
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bpeApply(spark, dir, rounds)
      .select(col("doc_id"), md5Bucket(4, shards).as("shard"),
        col("n_bpe_tokens").as("tok"))
      .withColumn("cum", sum("tok").over(w))
      .withColumn("seq", expr(s"(cum - tok) div $budget"))
      .groupBy("shard", "seq")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("seq_tokens"))
      .orderBy("shard", "seq")
  }

  /** Tokenizer FERTILITY per source — subwords emitted per word at the
    * trained merge state (the sentencepiece/HF tokenizer-QA metric): a
    * source whose fertility stays near its character count is one the
    * vocabulary has not learned; the metric is read per source so a
    * domain the merges ignore is visible before training pays for it.
    * One definition with [[bpeApply]] (its per-doc counts, re-keyed by
    * source), so the QA metric and the per-doc ledger cannot drift.
    *
    * Scale: the bpeApply join (vocabulary-sized merge table,
    * session-cached training chain) + an O(#sources) rollup. */
  def bpeFertility(spark: SparkSession, dir: String,
                   rounds: Int = 3): DataFrame =
    bpeApply(spark, dir, rounds)
      .join(Catalog.documents(spark, dir).select("doc_id", "source"),
        "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("n_words").as("n_words"),
           sum("n_bpe_tokens").as("n_bpe_tokens"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"),
        q6(col("n_bpe_tokens") * lit(1.0) / col("n_words"))
          .as("fertility"))
      .orderBy("source")

  /** [[packEfficiency]] at the TRAINED tokenizer's lengths — the
    * utilization rollup of [[packSequencesBpe]]'s plan (same per-doc
    * subword cost, same stable shard), so the fill/waste report and the
    * BPE packer can never disagree on a document's length. */
  def packEfficiencyBpe(spark: SparkSession, dir: String,
                        budget: Long = 2048, shards: Long = 8,
                        rounds: Int = 3): DataFrame = {
    require(budget > 0, s"token budget must be positive: $budget")
    bpeApply(spark, dir, rounds)
      .select(md5Bucket(4, shards).as("shard"),
        col("n_bpe_tokens").as("tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("shard_tokens"))
      .withColumn("n_chunks",
        expr(s"(shard_tokens + ${budget - 1}) div $budget"))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("n_chunks"),
        q6(col("shard_tokens") * lit(1.0) /
          (greatest(col("n_chunks"), lit(1L)) * budget)).as("fill"))
      .orderBy("shard")
  }

  /** Packing EFFICIENCY per shard — the trainer-utilization rollup of
    * [[packSequences]]' plan: each shard's token mass, its chunk count
    * ⌈tokens/budget⌉ (concat-and-split: only the final chunk per shard
    * is partial), and the fill ratio tokens/(chunks·budget) — 1 − fill
    * is the padding waste a trainer pays per shard. Integer arithmetic
    * to the final division, so the oracle matches exactly.
    *
    * Scale: one scan + a |shards|-key map-side-combinable rollup (the
    * same stable md5 shard the packer uses — the report and the plan
    * can never disagree on shard membership). */
  def packEfficiency(spark: SparkSession, dir: String,
                     budget: Long = 2048, shards: Long = 8): DataFrame = {
    require(budget > 0, s"token budget must be positive: $budget")
    val tok = size(regexp_extract_all(col("text"),
      lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")
    docsParallel(spark, dir)
      .select(md5Bucket(4, shards).as("shard"), tok.as("tok"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tok").as("shard_tokens"))
      .withColumn("n_chunks",
        expr(s"(shard_tokens + ${budget - 1}) div $budget"))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        col("n_chunks"),
        // greatest(1) guards the all-empty shard (0 tokens -> 0 chunks):
        // fill reads 0, not 0/0
        q6(col("shard_tokens") * lit(1.0) /
          (greatest(col("n_chunks"), lit(1L)) * budget)).as("fill"))
      .orderBy("shard")
  }

  /** Corpus TF-IDF vocabulary: the top-k terms by `tf · ln(N/df)` — the
    * signature-term view (what distinguishes documents) where
    * [[topTerms]] is the stopword view (what dominates them). One
    * explode + one map-side-combinable groupBy on the term (hot tokens
    * partial-aggregate before the shuffle), the corpus size N joined as
    * a broadcast one-row aggregate, TakeOrdered top-k — no new scan
    * shape. Score rounded to 6 dp on BOTH sides before ranking (ln is
    * the one non-exact step; tf, df, N are exact integers). */
  def tfidfTerms(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val nDocs = Catalog.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    wordCounts(spark, dir)
      .groupBy("tok")
      .agg(sum("c").as("tf"), count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", q6(col("tf") * log(col("n_docs") / col("df"))))
      .select("tok", "tf", "df", "tfidf")
      .orderBy(desc("tfidf"), col("tok"))
      .limit(k)
  }

  /** Dedup-METHOD agreement audit — lexical vs semantic near-dups: the
    * verified text pair set (minhash-LSH + exact-jaccard >= `jaccardT`)
    * full-outer-joined with the verified embedding pair set (sign-LSH +
    * exact-cosine >= `cosineT`; doc i's embedding is vector i), rolled
    * up to the (in_text, in_embed) membership matrix. The number an
    * operator reads before choosing dedup policy at scale: lexical-only
    * pairs are boilerplate/templates, embedding-only pairs are
    * paraphrases the shingle methods cannot see.
    *
    * Scale: both inputs are the already-registered near-dup PAIR plans
    * (banded candidates + exact verify — near-dup-sized, never corpus²),
    * sharing their session-cached feature tables; the join keys on the
    * canonical (lo, hi) id pair both emitters already produce. */
  def dedupAgreement(spark: SparkSession, dir: String,
                     jaccardT: Double = 0.9,
                     cosineT: Double = 0.4): DataFrame = {
    val text = dedupMinhashLsh(spark, dir, jaccardT)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        lit(true).as("in_text"))
    val embed = VectorOps.embedNearDupLsh(spark, dir, cosineT)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"),
        lit(true).as("in_embed"))
    text.join(embed, Seq("id_a", "id_b"), "full_outer")
      .select(coalesce(col("in_text"), lit(false)).as("in_text"),
        coalesce(col("in_embed"), lit(false)).as("in_embed"))
      .groupBy("in_text", "in_embed")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_text", "in_embed")
  }

  /** Winnowing-style document fingerprint: the minimum Rabin–Karp rolling
    * hash over all char 5-gram shingles of the text (the min-selection of
    * winnowing collapsed to one hash per doc). Documents sharing a
    * fingerprint are near-dup candidates. Output: fingerprint clusters.
    *
    * One O(n) codegen'd rolling scan per document (the native
    * [[graft.functions.GraftFunctions.rollingMinHash]] expression) — the
    * earlier form re-digested every 5-char window with md5 through an
    * interpreted lambda. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    docsParallel(spark, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.rollingMinHash(col("text"), 5)
          .as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .orderBy("fingerprint")

  /** Winnowed (MOSS, Schleimer et al. 2003) fingerprint sharing: the
    * substring-copy detector `doc_fingerprint` cannot be — its single
    * global-min hash per doc only matches on near-identical documents,
    * while winnowing keeps the distinct minima of every `win` consecutive
    * rolling `width`-char hashes, GUARANTEEING any shared run of at least
    * `width + win − 1` chars surfaces as a shared fingerprint at an
    * expected density of only 2/(win+1) positions. Emits the fingerprints
    * seen in ≥ 2 documents with their spread — the cross-doc copied-span
    * index one reads before (or instead of) paying for a full shingle-df
    * pass (`span_dup_stats` indexes EVERY distinct gram; this is the
    * provably-sufficient sample of them).
    *
    * Scale: the fingerprint pass is one O(len) codegen expression per doc
    * ([[org.apache.spark.sql.graft.RollingWinnow]]: rolling hashes +
    * monotonic-deque window minima); the rollup groups on 8-byte hashes
    * with map-side combine — linear in the sampled fingerprint volume
    * (~2/(win+1) of corpus positions), no pair explosion anywhere; a hot
    * boilerplate fingerprint contributes exactly one output row. */
  /** The session-cached WINNOW FINGERPRINT table (doc_id, fingerprint)
    * at the registered (width, win) — shared by [[winnowFingerprint]]
    * and [[winnowPairs]]: one O(len) codegen winnow pass per document
    * per session, not per consumer (the shingle-table contract). */
  private def winnowFpsCached(spark: SparkSession, dir: String,
                              width: Int, win: Int): DataFrame =
    Catalog.appCached(spark, s"winnow_fps:$dir:$width:$win")(
      docsParallel(spark, dir)
        .select(col("doc_id"), explode(
          graft.functions.GraftFunctions.winnowHashes(col("text"), width,
            win))
          .as("fingerprint"))
        .localCheckpoint())

  def winnowFingerprint(spark: SparkSession, dir: String,
                        width: Int = 5, win: Int = 4): DataFrame =
    winnowFpsCached(spark, dir, width, win)
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("fingerprint")

  /** Winnow CANDIDATE PAIRS: document pairs sharing at least `minShared`
    * winnow fingerprints — the actionable face of [[winnowFingerprint]]
    * (that op indexes which fingerprints repeat; this one says WHICH
    * documents share copied spans, the input a span-level dedup or
    * provenance audit reads). Pairs arriving via a boilerplate
    * fingerprint seen in > `maxDf` docs are excluded from generation —
    * the same hot-key blowup cap as `dedup_jaccard` (a fingerprint in
    * 10k docs contributes 50M pairs of pure boilerplate); `minShared ≥ 2`
    * then demands corroboration from a second rare fingerprint.
    *
    * Scale: the fingerprint table is the ~2/(win+1)-density winnow sample
    * (8-byte keys, map-side combined); the df-filter is one metadata-
    * small aggregate; the pair join fans out ≤ maxDf²/2 per fingerprint —
    * bucketed, never all-pairs. */
  def winnowPairs(spark: SparkSession, dir: String, width: Int = 5,
                  win: Int = 4, minShared: Long = 2,
                  maxDf: Int = 64): DataFrame = {
    // r19 (guide §2.4, the embed_covariance within-row idiom): pairs
    // share a fingerprint BY CONSTRUCTION, so the df rollup, the
    // rare-filter join-back and the keyed ⋈ keyed self-join (which
    // re-derived the filtered table once per side — four exchanges over
    // the fingerprint table) collapse into ONE collect_list per
    // fingerprint: the df cap reads the list's size, and the a < b pair
    // fanout explodes WITHIN the row — the same ≤ maxDf²/2 combinations
    // per fingerprint the self-join emitted (row-pair multiset is
    // order-independent), map-side-combined into the same
    // (doc_a, doc_b) counts. Two exchanges total, no self-join.
    val fps = winnowFpsCached(spark, dir, width, win)
    fps.groupBy("fingerprint")
      .agg(collect_list("doc_id").as("docs"))
      .where(size(col("docs")) > 1 && size(col("docs")) <= maxDf)
      .select(explode(col("docs")).as("da"), col("docs"))
      .select(col("da"), explode(col("docs")).as("db"))
      .where(col("da") < col("db"))
      .groupBy(col("da").as("doc_a"), col("db").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy("doc_a", "doc_b")
  }

  /** BM25 ranked retrieval for a fixed query-term set — the relevance
    * read every corpus-curation "find me documents about X" pass runs
    * (Robertson/Spärck Jones BM25 with the +1 idf floor; k1 = 1.2,
    * b = 0.75). Scores derive entirely from the shared [[wordCounts]]
    * feature table: tf = `c`, df = per-term row counts, doc length =
    * per-doc `sum(c)`, avgdl = corpus mass / N — at scale this is the
    * ingest-maintained token index, so a query never re-tokenizes.
    *
    * Scale: the term filter prunes the index scan to the query terms'
    * postings (at 100 TB: an `h`-keyed index bucket read, the same shape
    * as the shingle index); df/N/avgdl are METADATA-sized broadcasts;
    * the per-doc rollup groups the ≤ |terms| matched postings per doc;
    * top-k via TakeOrdered. Parity: tf/df/dl/N are exact integers and
    * each per-term score is one fixed IEEE sequence; the per-doc sum
    * spans AT MOST TWO terms — IEEE addition of two doubles is
    * commutative, so no accumulation-order hazard (the `require` pins
    * the determinism argument). */
  def bm25Search(spark: SparkSession, dir: String,
                 terms: Seq[String] = Seq("spark", "merge"),
                 k1: Double = 1.2, b: Double = 0.75,
                 k: Int = 15): DataFrame =
    bm25FromCounts(wordCounts(spark, dir), terms, k1, b, k)

  /** [[bm25Search]] over an explicit word-count table — ONE scoring
    * definition for the session path and the index-served face
    * (`FeatureIndex.indexedBm25Search`), the `topTermsFromCounts`
    * parity contract. */
  private[graft] def bm25FromCounts(wc: DataFrame,
                                    terms: Seq[String],
                                    k1: Double = 1.2, b: Double = 0.75,
                                    k: Int = 15): DataFrame = {
    require(terms.nonEmpty && terms.size <= 2,
      s"bm25 scores 1-2 terms (2-double sums are order-safe): $terms")
    val dl = wc.groupBy("doc_id").agg(sum("c").as("dl"))
    val df = wc.where(col("tok").isin(terms: _*))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val corpus = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("mass"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfSat = (col("c") * lit(k1 + 1.0)) /
      (col("c") + lit(k1) * (lit(1.0 - b) +
        lit(b) * col("dl") / (col("mass") / col("n_docs"))))
    wc.where(col("tok").isin(terms: _*))
      .select("doc_id", "tok", "c")
      .join(broadcast(df), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("part", idf * tfSat)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), q6(sum("part")).as("score"))
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  /** Per-source shingle NOVELTY — the inverse boilerplate signal: the
    * share of (doc, shingle) occurrences whose 3-gram appears in NO
    * other document (corpus df = 1). A source of templated/mirrored text
    * scores low; unique prose scores high. The inter-document complement
    * of [[docRepetition]]'s intra-document ratio.
    *
    * Scale: reads the SESSION-CACHED shingle table twice (per-shingle df
    * rollup on the 8-byte `h` key + the doc join) — no re-shingling; the
    * per-source result is O(#sources). Parity: the source-level ratio is
    * a MICRO-average (Σ novel / Σ total — one division of exact integer
    * sums), never a mean of per-doc float ratios (whose accumulation
    * order differs between engines). */
  def docNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shinglesCached(spark, dir)
    val dfh = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfh, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("total"),
           sum(when(col("df") === 1L, 1L).otherwise(0L)).as("novel"))
      .join(Catalog.documents(spark, dir).select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum("novel").as("novel_shingles"),
           sum("total").as("total_shingles"))
      .withColumn("novelty",
        q6(col("novel_shingles") * lit(1.0) / col("total_shingles")))
      .orderBy("source")
  }

  /** Quality-filter FUNNEL — stage-by-stage survivor counts for the
    * exact gate cascade [[qualityApply]] applies (min chars → heuristic
    * quality ≥ 0.8 → 3-gram repetition ≤ 0.02): the observability read
    * an operator checks BEFORE running the filter over a new crawl
    * (which stage is eating the corpus, and did a threshold change shift
    * yield). Stages share [[docQualityScore]] and [[withDocRepetition]]
    * with the filter itself, so the funnel can never desynchronize from
    * the gate it reports on.
    *
    * Scale: one corpus scan + the cached shingle-table join (the rep
    * signal), collapsed to a SINGLE aggregation row, then unpivoted to
    * the 4-row funnel driver-side-free via `stack`. Counts are exact
    * integers; the fraction is one division per stage. */
  def qualityFunnel(spark: SparkSession, dir: String,
                    minScore: Double = 0.8, minChars: Long = 150,
                    maxRep: Double = 0.02): DataFrame = {
    val flags = withDocRepetition(spark, dir, docsParallel(spark, dir)
        .select("doc_id", "n_chars", "text"))
      .select((col("n_chars") >= minChars).as("p1"),
        (docQualityScore >= minScore).as("p2"),
        (col("rep") <= maxRep).as("p3"))
    flags
      .agg(count(lit(1)).as("n0"),
        sum(when(col("p1"), 1L).otherwise(0L)).as("n1"),
        sum(when(col("p1") && col("p2"), 1L).otherwise(0L)).as("n2"),
        sum(when(col("p1") && col("p2") && col("p3"), 1L).otherwise(0L))
          .as("n3"))
      .select(expr(
        """stack(4,
          |  CAST(0 AS BIGINT), 'all',        n0,
          |  CAST(1 AS BIGINT), 'min_chars',  n1,
          |  CAST(2 AS BIGINT), 'quality',    n2,
          |  CAST(3 AS BIGINT), 'repetition', n3
          |) AS (stage_id, stage, n_docs)""".stripMargin),
        col("n0"))
      .select(col("stage_id"), col("stage"), col("n_docs"),
        q6(col("n_docs") * lit(1.0) / col("n0")).as("frac"))
      .orderBy("stage_id")
  }

  /** Zipf-law fit over the corpus vocabulary: least-squares slope /
    * intercept / R² of ln(frequency) against ln(rank) for the top-`topR`
    * terms — natural text sits near slope −1, and a corpus that drifts
    * from it (template spam: too flat; token soup: too steep) fails the
    * cheapest distribution-level quality gate there is. Complements the
    * per-doc signals ([[docEntropy]], [[unigramLogprob]]) with a
    * corpus-level one.
    *
    * Scale: the only corpus-sized work is the vocabulary rollup off the
    * shared [[wordCounts]] feature table; the top-R cut is TakeOrdered
    * (O(vocab), spillable) and the regression runs on R rows. Parity:
    * ln values are micro-unit INTEGERS (`floor(ln·1e6 + 0.5)` — the
    * engines' ln agree bitwise on these inputs, the repo-wide precedent,
    * and the micro-rounding absorbs everything below that), all five
    * regression sums are exact longs (the `series_linreg` contract), and
    * slope/intercept/R² are one fixed IEEE sequence at the end. */
  def vocabZipf(spark: SparkSession, dir: String,
                topR: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cf = wordCounts(spark, dir).groupBy("tok").agg(sum("c").as("cf"))
      .orderBy(desc("cf"), col("tok")).limit(topR)
    cf.withColumn("rank",
        row_number().over(Window.orderBy(desc("cf"), col("tok")))
          .cast("long"))
      .select(
        floor(log(col("rank").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("x"),
        floor(log(col("cf").cast("double")) * lit(1e6) + lit(0.5))
          .cast("long").as("y"))
      .agg(count(lit(1)).as("n_terms"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy"))
      .withColumn("num", col("n_terms") * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_terms") * col("sxx") - col("sx") * col("sx"))
      .withColumn("deny", col("n_terms") * col("syy") - col("sy") * col("sy"))
      .select(col("n_terms"),
        q6(col("num") / col("den")).as("slope"),
        q6((col("sy") - col("num") / col("den") * col("sx"))
          / col("n_terms") / lit(1e6)).as("intercept"),
        q6(col("num").cast("double") * col("num").cast("double") /
          (col("den").cast("double") * col("deny").cast("double")))
          .as("r2"))
  }

  /** SOURCE-level similarity matrix: pairwise shingle-set Jaccard between
    * sources — the corpus-composition audit a mixture designer runs
    * before weighting sources (two crawls of the same site should not
    * both get full weight; see `mix_weights` for the apply side).
    *
    * Scale: the per-source shingle VOCABULARY (distinct (source, h) on
    * 8-byte hashes — bounded by vocabulary × sources, not corpus size) is
    * the only input; the intersection self-join keys on `h` with per-key
    * fanout ≤ sources² (sources are metadata-cardinality, so no hot-key
    * blowup is possible), and every rollup is map-side combinable. The
    * output is sources²/2 rows — metadata. Parity: counts and one closing
    * division; the oracle intersects shingle STRINGS where the engine
    * intersects xxhash64 keys (the repo-wide convention — collision odds
    * are birthday-on-2^64, see [[shingles]]). */
  def sourceSimilarity(spark: SparkSession, dir: String): DataFrame = {
    // localCheckpoint truncates the cached table's lineage so the
    // (per-DOC, corpus-cardinality) source join inside the build can
    // never surface as a frozen broadcast in downstream plans — the
    // same hygiene as the pqCodes / jaccard pair-stream feature tables
    val srcSh = Catalog.appCached(spark, s"src_shingles:$dir")(
      shinglesCached(spark, dir)
        .join(Catalog.documents(spark, dir).select("doc_id", "source"),
          "doc_id")
        .select("source", "h")
        .distinct()
        .localCheckpoint())
    val sizes = srcSh.groupBy("source").agg(count(lit(1)).as("ns"))
    srcSh.select(col("source").as("src_a"), col("h"))
      .join(srcSh.select(col("source").as("src_b"), col("h")), "h")
      .where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("source").as("src_a"), col("ns").as("na")),
        "src_a")
      .join(sizes.select(col("source").as("src_b"), col("ns").as("nb")),
        "src_b")
      .select(col("src_a"), col("src_b"), col("n_common"),
        q6(col("n_common") / (col("na") + col("nb") - col("n_common")))
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): every document scored by how much its
    * hashed-unigram feature distribution looks like a TARGET domain
    * (the `targetSources` docs) vs the rest of the corpus — the standard
    * cheap proxy for "select raw-crawl docs that resemble the curated
    * set". Features are md5-bucketed tokens (`nBuckets` buckets, the
    * same ascii(md5) bucketing as [[langId]] so DuckDB reproduces it);
    * bucket log-ratios are Laplace-smoothed; a doc's weight is its
    * token-mass-weighted mean log-ratio. Output: per-source doc count
    * and mean weight (target sources score high, the rest near/below 0).
    *
    * Scale: the bucket model is `nBuckets` ROWS — a constant-size
    * metadata broadcast, never corpus-sized — built by one map-side
    * combinable rollup of the shared session-cached [[wordCounts]]
    * feature table; per-doc scoring is a doc-keyed rollup of that same
    * table. No new corpus pass, no explode, no UDFs. Parity: per-doc
    * scores round to integer micro-nats before the per-source mean (the
    * [[docEntropy]] decimal-half defense); the log-ratio is evaluated
    * with the identical expression sequence in both engines. */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetSources: Seq[String],
                  nBuckets: Int = 16): DataFrame = {
    val wc = wordCounts(spark, dir)
      .withColumn("b", ascii(substring(md5(col("tok")), 1, 1)) % nBuckets)
    val isT = col("source").isInCollection(targetSources)
    val buckets = wc.groupBy("b")
      .agg(sum(when(isT, col("c")).otherwise(0L)).as("nt"),
           sum(when(!isT, col("c")).otherwise(0L)).as("nr"))
    val tot = buckets.agg(sum("nt").as("tn"), sum("nr").as("rn"))
    val bw = buckets.crossJoin(broadcast(tot))
      .select(col("b"),
        (log((col("nt") + lit(1.0)) / (col("tn") + lit(nBuckets.toDouble)))
          - log((col("nr") + lit(1.0)) / (col("rn") + lit(nBuckets.toDouble))))
          .as("lr"))
    wc.join(broadcast(bw), "b")
      .groupBy("doc_id", "source")
      .agg(floor(sum(col("c") * col("lr")) / sum("c") * 1e6 + 0.5)
        .cast("long").as("wu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        q6(sum("wu") / (count(lit(1)) * lit(1e6))).as("avg_logratio"))
      .orderBy("source")
  }

  /** Fixed-size overlapping word-window chunking — the RAG / training
    * sharding pass that turns documents into `chunk`-word pieces every
    * `stride` words (overlap = chunk − stride), each fingerprinted for
    * downstream exact-dedup of chunks. Chunk starts are 0, stride, …;
    * the last start is the first that reaches the document's end, so
    * every token lands in ≥1 chunk and no start begins past the text.
    *
    * Scale: one documents scan, all codegen builtins (split / sequence /
    * explode / slice / md5) — fan-out is OUTPUT-sized (≈ n_words/stride
    * rows per doc), there is no shuffle at all, and the md5 runs over
    * the in-memory slice, so the stage pipelines into whatever consumes
    * the chunks. Parity: counts are exact integers; the fingerprint is
    * md5 of the space-joined slice, byte-identical in both engines. */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunk: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && chunk >= stride,
      s"need chunk >= stride >= 1: chunk=$chunk stride=$stride")
    Catalog.documents(spark, dir)
      .select(col("doc_id"), split(normText, " ").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_chunks",
        lit(1L) + floor((greatest(col("n_words") - chunk, lit(0L))
          + lit(stride - 1)) / lit(stride)).cast("long"))
      .select(col("doc_id"), col("n_words"), col("words"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_idx"))
      .withColumn("start_word", col("chunk_idx") * stride)
      .withColumn("wslice",
        slice(col("words"), (col("start_word") + 1).cast("int"), lit(chunk)))
      .select(col("doc_id"), col("chunk_idx"), col("start_word"),
        size(col("wslice")).cast("long").as("chunk_words"),
        md5(array_join(col("wslice"), " ")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Gopher-style RULE-BASED quality gate (Rae et al. 2021 §A1.1, the
    * public heuristic filter suite), restricted to the rules this
    * corpus's single-line prose can discriminate on — per source: how
    * many documents fail each rule, and how many pass all four.
    * Rules: word count in [`minWords`, `maxWords`]; mean word length in
    * [3, 10] chars; at least 2 DISTINCT stopwords present (the
    * "coherent English" proxy); type-token ratio ≥ 1/5 (the duplicate-
    * word-fraction repetition analog — templated text reuses few types).
    *
    * Every per-doc statistic reads the shared [[wordCounts]] feature
    * table — words = Σc, types = row count, length mass = Σ len(tok)·c,
    * stopword hits = stoplist-row count — so the gate adds NO corpus
    * scan; ratio rules compare by integer CROSS-MULTIPLICATION (no
    * float, hash-exact oracle). Scale: one doc-keyed map-side-combinable
    * rollup of the cached table, then a |sources|-key rollup; the
    * stoplist membership is a literal `isin` over 8 tokens, not a
    * join. */
  def gopherRules(spark: SparkSession, dir: String,
                  minWords: Long = 50, maxWords: Long = 100000): DataFrame =
    gopherRulesFromCounts(wordCounts(spark, dir), minWords, maxWords)

  /** [[gopherRules]] over an explicit (doc_id, source, tok, c) count
    * table — ONE rule definition for the session cache and the
    * ingest-maintained index face (`FeatureIndex.indexedGopherRules`),
    * the `topTermsFromCounts` parity contract. */
  private[graft] def gopherRulesFromCounts(wc: DataFrame,
                                           minWords: Long,
                                           maxWords: Long): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in", "is", "it")
    val perDoc = wc
      .groupBy("doc_id", "source")
      .agg(sum("c").as("words"),
        count(lit(1)).as("types"),
        sum(length(col("tok")).cast("long") * col("c")).as("len_mass"),
        sum(when(col("tok").isInCollection(stop), 1L).otherwise(0L))
          .as("stop_types"))
      .select(col("source"),
        (col("words") < minWords || col("words") > maxWords).as("f_wc"),
        (col("len_mass") < col("words") * 3L ||
          col("len_mass") > col("words") * 10L).as("f_mwl"),
        (col("stop_types") < 2L).as("f_stop"),
        (col("types") * 5L < col("words")).as("f_ttr"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("f_wc"), 1L).otherwise(0L)).as("fail_word_count"),
        sum(when(col("f_mwl"), 1L).otherwise(0L)).as("fail_mean_word_len"),
        sum(when(col("f_stop"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(col("f_ttr"), 1L).otherwise(0L)).as("fail_ttr"),
        sum(when(!col("f_wc") && !col("f_mwl") && !col("f_stop")
          && !col("f_ttr"), 1L).otherwise(0L)).as("n_pass"))
      .orderBy("source")
  }

  /** Per-source KL DIVERGENCE from the corpus unigram distribution —
    * KL(P_source ‖ P_corpus) in nats: the drift/mixing observability
    * number next to [[dsirWeights]] (which reweights) and
    * [[unigramLogprob]] (which scores docs): a source whose KL jumps
    * between crawls changed its vocabulary mix, and sources are
    * comparable on one scale. KL = Σ_w (c_w/n)·ln((c_w·N)/(n·c̄_w)),
    * summed only over the source's own tokens (P(w)=0 terms contribute
    * 0; the corpus side can never be 0 for a token the source has).
    *
    * Reads the shared [[wordCounts]] feature table — one (source, tok)
    * rollup, one broadcast-joined corpus count table, no corpus
    * re-scan. Per-source score rounded to integer micro-nats (the
    * engine's standard decimal-half defense; the inner products
    * c_w·N stay under 2^53, so the log arguments are exact). */
  def sourceKl(spark: SparkSession, dir: String): DataFrame =
    sourceKlFromCounts(wordCounts(spark, dir))

  /** [[sourceKl]] over an explicit (source, tok, c) count table — shared
    * with the index-served face (`FeatureIndex.indexedSourceKl`). */
  private[graft] def sourceKlFromCounts(wc: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // r19 (guide §2.4): the (source, tok) rollup had THREE consumers
    // (kl terms, corpus marginal, per-source totals), each re-running
    // the rollup from the cached count table — lazily checkpoint it
    // once. The per-source total then rides the pass itself as a window
    // over hash(source) — the SAME exchange the closing groupBy(source)
    // needs (the r18 reconcile idiom), so the separate totals aggregate
    // and its join-back (two exchanges + a rollup) are gone. ns is an
    // exact integer window sum — identical longs in the log arguments;
    // the double KL sum itself is order-absorbed by the micro-nat
    // rounding exactly as before (hash-aggregate input order was never
    // deterministic).
    val st = wc
      .groupBy("source", "tok").agg(sum("c").as("cs"))
      .localCheckpoint()
    val corpus = st.groupBy("tok").agg(sum("cs").as("cf"))
    val grand = corpus.agg(sum("cf").as("nn"))
    st.join(corpus, "tok")
      .crossJoin(broadcast(grand))
      .withColumn("ns", sum("cs").over(Window.partitionBy("source")))
      .groupBy("source")
      .agg(first("ns").as("n_tokens"),
        floor(sum(col("cs") * log((col("cs") * col("nn")).cast("double")
            / (col("ns") * col("cf")).cast("double")))
          / first("ns") * 1e6 + 0.5).cast("long").as("klu"))
      .select(col("source"), col("n_tokens"),
        q6(col("klu") / lit(1e6)).as("kl"))
      .orderBy("source")
  }

  /** Corpus-BIGRAM LM surprisal per source — the next quality axis after
    * [[unigramLogprob]]: each document's mean joint-bigram negative
    * log-likelihood under the corpus's own bigram distribution. Template
    * spam repeats the corpus's dominant word PAIRS and scores low even
    * when its unigram mix looks natural; garbled interleavings score
    * high on bigrams before unigrams notice.
    *
    * Bigrams are 8-byte [[graft.functions.GraftFunctions.wordNgramHashes]]
    * ids (one codegen'd rolling pass per doc — never materialized word-
    * pair strings; the `contamination_ngram` machinery at n = 2), so the
    * corpus count table shuffles fixed-width keys. Per-doc scores are
    * INTEGER micro-nats (the `doc_entropy` decimal-half defense) summed
    * into the per-source mean. Scale: one explode + two map-side-
    * combinable aggregations + one fixed-width join; the count table is
    * O(|bigram vocab|). */
  def bigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    // session-cached feature table (the wordCounts contract): the doc,
    // corpus, and total aggregates below all derive from this ONE
    // materialized explosion instead of three plan copies re-hashing
    // the corpus
    val bg = Catalog.appCached(spark, s"bigram_counts:$dir") {
      docsParallel(spark, dir)
        .select(col("doc_id"), col("source"), explode(
          graft.functions.GraftFunctions.wordNgramHashes(normText, 2))
          .as("h"))
        .groupBy("doc_id", "source", "h")
        .agg(count(lit(1)).as("c"))
        .localCheckpoint()
    }
    val corpus = bg.groupBy("h").agg(sum("c").as("cf"))
    val total = corpus.agg(sum("cf").as("n"))
    bg.join(corpus, "h")
      .crossJoin(broadcast(total))
      .groupBy("doc_id", "source")
      .agg(floor(
        sum(col("c") * -log(col("cf") * lit(1.0) / col("n"))) / sum("c")
          * 1e6 + 0.5).cast("long").as("nllu"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("nllu").as("su"))
      .select(col("source"), col("n_docs"),
        q6(col("su") / (col("n_docs") * lit(1000000.0))).as("avg_nll"))
      .orderBy("source")
  }

  /** TF-IDF COSINE document-similarity pairs over the DISTINCTIVE
    * vocabulary: tokens with df ≤ `maxDf` (rare terms carry virtually
    * all tf-idf mass — a df-capped vocabulary is standard feature
    * selection, and it is the op's CONTRACT, not an approximation of an
    * uncapped one). Finds topically-similar pairs the shingle/jaccard
    * family misses (shared distinctive words, different phrasing).
    *
    * Parity: weights are quantized to integer micro-units
    * (floor(c·ln(N/df)·1e6 + 0.5)) and the dot/norm sums run in
    * DECIMAL(38,0) — squared micro-weights overflow a long — with ONE
    * closing double sequence per pair. Scale: the inverted-index
    * self-join fans out ≤ maxDf² per token BY CONSTRUCTION (the same
    * bound as the rare-shingle join); per-doc norms are an O(#docs)
    * doc-keyed aggregation. */
  def tfidfPairs(spark: SparkSession, dir: String,
                 threshold: Double = 0.3, maxDf: Long = 64L): DataFrame =
    tfidfPairsFromCounts(spark,
      wordCounts(spark, dir).select("doc_id", "tok", "c"), threshold, maxDf,
      cacheNs = Some(s"$dir:$maxDf"))

  private[graft] def tfidfPairsFromCounts(spark: SparkSession, wc: DataFrame,
                                          threshold: Double, maxDf: Long,
                                          cacheNs: Option[String] = None)
      : DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val nDocs = wc.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val dfTab = wc.groupBy("tok").agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
    val w = wc
      .join(dfTab, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        floor(col("c") * log(col("n_docs") / col("df")) * lit(1e6) +
          lit(0.5)).cast(dec).as("w"))
      .where(col("w") > 0)
    val norms = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("nn"))
    val sims0 = w.as("a")
      .join(w.as("b"), col("a.tok") === col("b.tok") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(norms.select(col("doc_id").as("doc_a"), col("nn").as("na")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("nn").as("nb")),
        "doc_b")
      .withColumn("sim", col("dot").cast("double") /
        sqrt(col("na").cast("double") * col("nb").cast("double")))
    // the candidate-pair SIM stream is threshold-INDEPENDENT (the df cap
    // bounds its size — the jac_pairs contract), so it is session-cached
    // and the registered threshold filters the cached relation
    val sims = cacheNs match {
      case Some(ns) =>
        Catalog.appCached(spark, s"tfidf_sims:$ns")(sims0.localCheckpoint())
      case None => sims0
    }
    sims.where(col("sim") >= threshold)
      .select(col("doc_a"), col("doc_b"), q6(col("sim")).as("sim"))
      .orderBy("doc_a", "doc_b")
  }

  /** Per-document KEYPHRASES: each document's top-`k` tokens by tf-idf —
    * the "what is this doc about" labels a retrieval/browse UI or a
    * topic-drift monitor reads per document (the per-doc complement of
    * the corpus-level [[tfidfTerms]]).
    *
    * Parity: weights are quantized to INTEGER micro-units before
    * ranking, so the (wq DESC, tok) rank order is pure integer/string
    * comparison — float ties cannot flip ranks cross-engine. Scale: one
    * pass over the cached word-count table + an O(vocab) df join; the
    * rank window partitions per document (bounded groups, spill-safe). */
  def docKeyphrases(spark: SparkSession, dir: String, k: Int = 3): DataFrame =
    docKeyphrasesFromCounts(wordCounts(spark, dir)
      .select("doc_id", "tok", "c"), k)

  /** [[docKeyphrases]] over an explicit word-count table — ONE scoring
    * definition for the session cache and the index-served face. */
  private[graft] def docKeyphrasesFromCounts(wc: DataFrame,
                                             k: Int): DataFrame = {
    val nDocs = wc.select("doc_id").distinct().agg(count(lit(1)).as("n_docs"))
    val dfTab = wc.groupBy("tok").agg(count(lit(1)).as("df"))
    wc.join(dfTab, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("wq", floor(col("c") * log(col("n_docs") / col("df")) *
        lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
        .orderBy(desc("wq"), col("tok"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("tok"),
        q6(col("wq") / lit(1e6)).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  /** Top-k PMI COLLOCATIONS: ADJACENT word pairs that co-occur far more
    * than chance — pointwise mutual information
    * ln(c_ab·T / (c_a·c_b)) over bigram counts (the classic
    * multi-word-expression miner next to [[docKeyphrases]]). Unlike a
    * document-co-occurrence pair join, adjacency is LINEAR in the
    * corpus: one array pass per document, no self-join at all.
    *
    * Parity: all counts are exact integers; the two products run in
    * DECIMAL(38,0) (they exceed 2^53 at corpus scale) and convert to
    * double ONCE each for a single division + ln, quantized to integer
    * micro-nats BEFORE ranking. Scale: bigram and unigram tables are
    * vocab-keyed map-side-combinable rollups; top-k is TakeOrdered. */
  def tokenPmiPairs(spark: SparkSession, dir: String, minCount: Long = 5,
                    k: Int = 20): DataFrame = {
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val words = split(normText, " ")
    // the bigram pair-count table is parameter-INDEPENDENT (minCount
    // filters after it), so the one corpus explosion this op exists to
    // bound is session-cached like every other feature table
    val bigrams = Catalog.appCached(spark, s"bigram_pairs:$dir") {
      docsParallel(spark, dir)
        .select(explode(when(size(words) >= 2,
          transform(sequence(lit(0), size(words) - 2), i =>
            struct(element_at(words, i + 1).as("tok_a"),
              element_at(words, i + 2).as("tok_b"))))
          .otherwise(array().cast("array<struct<tok_a:string,tok_b:string>>")))
          .as("bg"))
        .select(col("bg.tok_a"), col("bg.tok_b"))
        .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("c_ab"))
        .localCheckpoint()
    }
      .where(col("c_ab") >= minCount)
    // r19 (guide §2.4): three consumers (both endpoint joins + the
    // grand total) each re-ran this vocab rollup from the cached count
    // table — one lazy checkpoint, three block reads
    val uni = wordCounts(spark, dir).groupBy("tok")
      .agg(sum("c").as("cu"))
      .localCheckpoint()
    val total = uni.agg(sum("cu").as("t"))
    bigrams
      .join(uni.select(col("tok").as("tok_a"), col("cu").as("ca")), "tok_a")
      .join(uni.select(col("tok").as("tok_b"), col("cu").as("cb")), "tok_b")
      .crossJoin(broadcast(total))
      .withColumn("pmi_q", floor(log(
        (col("c_ab").cast(dec) * col("t").cast(dec)).cast("double") /
          (col("ca").cast(dec) * col("cb").cast(dec)).cast("double")) *
        lit(1e6) + lit(0.5)).cast("long"))
      .orderBy(desc("pmi_q"), col("tok_a"), col("tok_b"))
      .limit(k)
      .select(col("tok_a"), col("tok_b"), col("c_ab"),
        q6(col("pmi_q") / lit(1e6)).as("pmi"))
      .orderBy("tok_a", "tok_b")
  }

  /** VOCABULARY GROWTH curve (Heaps' law read): at `points` doc-rank
    * checkpoints, the cumulative token count, the distinct-vocabulary
    * size, and the type/token ratio — "is the corpus still teaching the
    * tokenizer new words, or saturating" (the complement of
    * [[vocabZipf]]'s static frequency view).
    *
    * The trick that makes this distributed-exact: cumulative vocabulary
    * at cut d is the count of tokens whose FIRST document (min doc_id)
    * is ≤ d — no ordered scan, just two aggregations joined against an
    * O(points) broadcast checkpoint table; every row emits ≤ points
    * contributions and both counts stay map-side combinable. */
  def vocabGrowth(spark: SparkSession, dir: String,
                  points: Int = 10): DataFrame = {
    val wc = wordCounts(spark, dir).select("doc_id", "tok", "c")
    val docs = wc.select("doc_id").distinct()
    val n = docs.agg(count(lit(1)).as("n"))
    // checkpoint ranks: r is the i-th cut iff ⌊r·p/n⌋ increments at r
    val cp = docs
      .withColumn("r", row_number().over(Window.orderBy("doc_id")).cast("long"))
      .crossJoin(broadcast(n))
      .where(expr(s"(r * $points) div n > ((r - 1) * $points) div n"))
      .select(col("doc_id").as("cut"), col("r").as("n_docs"))
    val perDoc = wc.groupBy("doc_id").agg(sum("c").as("dl"))
    val tokens = perDoc.crossJoin(broadcast(cp))
      .where(col("doc_id") <= col("cut"))
      .groupBy("cut", "n_docs").agg(sum("dl").as("tokens"))
    val vocab = wc.groupBy("tok").agg(min("doc_id").as("fd"))
      .crossJoin(broadcast(cp))
      .where(col("fd") <= col("cut"))
      .groupBy("cut").agg(count(lit(1)).as("vocab"))
    tokens.join(vocab, "cut")
      .select(col("n_docs"), col("cut"), col("tokens"), col("vocab"),
        q6(col("vocab") / col("tokens")).as("ttr"))
      .orderBy("n_docs")
  }

  /** PII SURFACE SCAN per source: email / phone / IPv4 hit counts and the
    * share of documents carrying any — the pre-redaction observability
    * read every training-data pipeline runs before deciding what to
    * scrub. Patterns are deliberately ASCII-conservative so Java regex
    * (Spark codegen) and RE2 (oracle) agree match-for-match.
    *
    * Scale: one scan, three codegen'd regexp counters per row, one
    * map-side-combinable per-source aggregation — no shuffle of text. */
  def piiStats(spark: SparkSession, dir: String): DataFrame =
    piiStatsOver(piiInjectedDocs(spark, dir))

  /** Deterministic POSITIVE-PATH PII fixture: the corpus documents with a
    * closed-form PII payload appended from `doc_id` alone — an email + an
    * IPv4 on every 7th doc, a phone on every 5th — so the redaction
    * regexes are oracle-exercised against real matches on EVERY fixture
    * (the shipped testdata contains zero natural matches for all three
    * pattern classes, which made the original faces vacuously green: a
    * redactor that never redacted anything proved only the no-op path).
    * The same synthesis trick as the multimodal real-codec faces
    * (`MultimodalOps.mm_decode_real`): both engines regenerate the payload
    * bit-for-bit from doc_id, so the DuckDB oracle replays it exactly.
    * Docs off the 5/7 grids stay untouched — the no-op path is still
    * covered by the same registered keys. */
  private[graft] def piiInjectedDocs(spark: SparkSession,
                                     dir: String): DataFrame =
    Catalog.documents(spark, dir).withColumn("text",
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."),
            (col("doc_id") % 256).cast("string"), lit(".1")))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
            lit("-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))

  /** [[piiStats]] over an explicit docs table — ONE scan definition for
    * the injected-fixture face and any production corpus. */
  private[graft] def piiStatsOver(docs: DataFrame): DataFrame = {
    val email = lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    val phone = lit("\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}")
    val ip = lit("\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b")
    docs
      .select(col("source"),
        regexp_count(col("text"), email).cast("long").as("em"),
        regexp_count(col("text"), phone).cast("long").as("ph"),
        regexp_count(col("text"), ip).cast("long").as("ip"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("em") + col("ph") + col("ip") > 0).cast("long"))
          .as("pii_docs"),
        sum("em").as("emails"), sum("ph").as("phones"), sum("ip").as("ips"))
      .select(col("source"), col("n_docs"), col("pii_docs"),
        q6(col("pii_docs") / col("n_docs")).as("pii_rate"),
        col("emails"), col("phones"), col("ips"))
      .orderBy("source")
  }

  /** PII REDACTION — the APPLY face of [[piiStats]]: every document
    * carrying PII re-emitted with emails/phones/IPs replaced by typed
    * placeholder tokens, the sequential composition a release pipeline
    * actually ships (email → phone → IP, the same proven cross-engine
    * regexes as the stats face, so the two cannot disagree on what
    * counts as PII). Output is one row per AFFECTED doc with the match
    * counts and the md5 of the redacted text — the digest pins the
    * actual replacement output bit-for-bit without shipping corpus text
    * through the result set (the dedup-digest contract). Scale: one
    * narrow scan, no shuffle before the doc-count-bounded rollup. The closing
    * global `orderBy` is the ORACLE HARNESS's determinism contract, not
    * part of the operator — a production rewrite job drops it (sorting
    * the surviving corpus serves no consumer). */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    piiRedactOver(piiInjectedDocs(spark, dir))

  /** [[piiRedact]] over an explicit docs table — the operator itself; the
    * registered face feeds it the [[piiInjectedDocs]] positive-path
    * fixture so the md5 digests pin ACTUAL replacements. */
  private[graft] def piiRedactOver(docs: DataFrame): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"
    val ip = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
    docs
      .select(col("doc_id"),
        regexp_count(col("text"), lit(email)).cast("long").as("emails"),
        regexp_count(col("text"), lit(phone)).cast("long").as("phones"),
        regexp_count(col("text"), lit(ip)).cast("long").as("ips"),
        md5(
          regexp_replace(
            regexp_replace(
              regexp_replace(col("text"), email, "[EMAIL]"),
              phone, "[PHONE]"),
            ip, "[IP]")).as("redacted_md5"))
      .where(col("emails") + col("phones") + col("ips") > 0)
      .orderBy("doc_id")
  }

  /** BPE MERGE-CANDIDATE table (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units" — the tokenizer-
    * training core): adjacent character-pair frequencies over the
    * corpus's word VOCABULARY, each pair weighted by its word's corpus
    * occurrence count — the count table byte-pair encoding's first
    * merge round ranks. Top-k pairs, ties lexicographic. Production BPE
    * iterates re-segmentation after every merge (a sequential loop like
    * the engine's Lloyd trainers); this registers the dominant-signal
    * first round for oracle replayability — the loop composes k copies
    * of this plan over re-merged symbol arrays.
    *
    * Scale: the vocabulary table is O(|vocab|) rows (Heaps'-law growth,
    * far below corpus size), the pair explode is O(word length) per
    * vocab row, and the rollup map-side-combines on 2-char keys. Reads
    * the shared [[wordCounts]] feature table — no corpus re-scan. */
  def bpeMergeCandidates(spark: SparkSession, dir: String,
                         k: Int = 20): DataFrame =
    bpeMergeCandidatesFromCounts(wordCounts(spark, dir), k)

  /** [[bpeMergeCandidates]] over an explicit (tok, c) count table — ONE
    * aggregation definition for the session cache and the
    * ingest-maintained index table
    * (`FeatureIndex.indexedBpeMergeCandidates`), so the two paths
    * cannot drift. */
  private[graft] def bpeMergeCandidatesFromCounts(wc: DataFrame,
                                                  k: Int): DataFrame =
    wc
      .groupBy("tok").agg(sum("c").as("wc"))
      .where(length(col("tok")) >= 2)
      .select(col("wc"),
        explode(sequence(lit(1), length(col("tok")) - 1)).as("i"),
        col("tok"))
      .select(col("wc"), expr("substr(tok, i, 1)").as("a"),
        expr("substr(tok, i + 1, 1)").as("b"))
      .groupBy("a", "b")
      .agg(sum("wc").as("pair_count"))
      .orderBy(desc("pair_count"), col("a"), col("b"))
      .limit(k)
      // rank window over the k surviving rows only
      .withColumn("rnk", row_number().over(
        Window.orderBy(desc("pair_count"), col("a"), col("b")))
        .cast("long"))
      .select("rnk", "a", "b", "pair_count")
      .orderBy("rnk")

  /** BPE TRAINING LOOP (Sennrich et al. 2016 §3.2, `learn_bpe`): the
    * first `rounds` merge rounds of byte-pair-encoding training,
    * unrolled — the loop [[bpeMergeCandidates]] documents as "composes
    * k copies of this plan", now actually composed. Each word of the
    * corpus vocabulary is split into character symbols; each round
    * counts adjacent symbol pairs weighted by word frequency, picks the
    * argmax pair (count desc, then (a, b) lexicographic — fully
    * deterministic), and merges it greedily left-to-right in every
    * word. Output: one row per round — the ordered merge table a
    * trained tokenizer ships.
    *
    * The merge application is pure string algebra shared verbatim with
    * the oracle: symbols single-space-joined, delimiters doubled,
    * ` a  b ` → ` ab `, delimiters re-collapsed. `replace`'s
    * left-to-right non-overlapping scan IS BPE's greedy merge order in
    * both engines (self-pair runs `a a a` → `aa a`, adjacent pairs
    * `a b a b` → `ab ab` — verified identical).
    *
    * Scale: training runs on the O(|vocab|) aggregate of the shared
    * [[wordCounts]] table, never the corpus — the classic Sennrich
    * reduction. Each round is one vocab-sized map + a 2-char-key
    * rollup (map-side combined) + a 1-row broadcast argmax joined back
    * left-on-true (an all-single-char vocab produces no pair and the
    * round passes words through unchanged rather than emptying the
    * table). Rounds chain as one lazy plan; nothing corpus-sized ever
    * reaches the driver. */
  def bpeTrainRounds(spark: SparkSession, dir: String,
                     rounds: Int = 3): DataFrame =
    Catalog.appCached(spark, s"bpe_merges:$dir:$rounds")(
      bpeTrainMergeTable(wordCounts(spark, dir), rounds))
      .select("rnd", "a", "b", "pair_count")
      .orderBy("rnd")

  /** Subword VOCABULARY after the first `rounds` BPE merges: apply the
    * [[bpeTrainRounds]] merge table to every vocabulary word and count
    * the resulting symbol occurrences (weighted by word frequency) —
    * the table that shows what the tokenizer's unit inventory looks
    * like mid-training (merged bigrams rising, their constituent chars
    * draining). Top-k symbols, ties lexicographic. Same chained plan as
    * training; the symbol rollup keys are ≤(rounds+1)-char strings. */
  def bpeVocabAfter(spark: SparkSession, dir: String, rounds: Int = 3,
                    k: Int = 20): DataFrame = {
    val words = bpeTrainWordsCached(spark, dir, rounds)
    words
      .select(col("wcnt"), explode(split(trim(col("repr")), " ")).as("sym"))
      .where(col("sym") =!= "")
      .groupBy("sym").agg(sum("wcnt").as("cnt"))
      .orderBy(desc("cnt"), col("sym"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(desc("cnt"), col("sym"))).cast("long"))
      .select("rnk", "sym", "cnt")
      .orderBy("rnk")
  }

  /** APPLY the trained BPE merges to the corpus (the step after
    * [[bpeTrainRounds]] — train → apply → count): every document's
    * word occurrences joined to the post-merge symbolized vocabulary,
    * giving per-doc word and SUBWORD counts — the tokens-per-document
    * table a training-data pipeline budgets sequence packing with, at
    * the tokenizer's current merge state.
    *
    * The vocab key is recovered from the symbolized repr by stripping
    * its spaces (symbolization is a bijection — spaces only mark
    * symbol boundaries), so the apply face needs no extra plumbing in
    * the shared training chain and CANNOT drift from it. Scale: the
    * post-merge vocab is vocabulary-sized (joined to the per-doc
    * word-count feature table on `tok`, map-side combinable rollup to
    * one row per doc); the train chain is the [[bpeTrainRounds]]
    * contract — vocabulary-sized work per round, no collect. */
  def bpeApply(spark: SparkSession, dir: String, rounds: Int = 3): DataFrame =
    bpeApplyFromCounts(wordCounts(spark, dir),
      bpeTrainWordsCached(spark, dir, rounds))

  /** [[bpeApply]] over explicit word-count and post-merge-vocab tables
    * — ONE apply definition for the session path and the index-served
    * face (`FeatureIndex.indexedBpeApply`), so the two cannot drift. */
  def bpeApplyFromCounts(wc: DataFrame, words: DataFrame): DataFrame = {
    val sub = words
      .select(regexp_replace(col("repr"), " ", "").as("tok"),
        size(split(trim(col("repr")), " ")).cast("long").as("n_sub"))
    wc.join(sub, "tok")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
           sum(col("c") * col("n_sub")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** One BPE training round over a (repr, wcnt) symbolized-vocab table:
    * returns (argmax-pair 1-row table, merged words table). Shared by
    * the merge-table and vocab-after faces so the two cannot drift. */
  /** One training round's ARGMAX pair over the symbolized vocab,
    * COLLECTED — one row of driver metadata per round, the Lloyd-trainer
    * discipline (probe cells / centroids precedent). Returns None when
    * no pair remains (all-single-symbol vocab). */
  private def bpeBestPair(words: DataFrame): Option[(String, String, Long)] =
    words
      .select(col("wcnt"), split(trim(col("repr")), " ").as("s"))
      .where(size(col("s")) >= 2)
      .select(col("wcnt"), explode(expr(
        "transform(sequence(0, size(s) - 2)," +
          " i -> struct(s[i] AS a, s[i + 1] AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("wcnt").as("pair_count"))
      .orderBy(desc("pair_count"), col("a"), col("b"))
      .limit(1)
      .collect()
      .headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** Greedy left-to-right merge of ONE learned pair into every word —
    * the double-space `replace` trick with LITERAL symbols (the argmax
    * is driver metadata, so no join and no plan-lineage growth: r16
    * replaced the per-round broadcast-join chain whose O(rounds²)
    * analyzed subtree cost ~4 s of DRIVER plan processing per
    * re-reference of the 10-round face — execution was never the
    * cost). */
  private def bpeMergeOne(words: DataFrame, a: String,
                          b: String): DataFrame =
    words.select(
      replace(
        replace(
          replace(col("repr"), lit(" "), lit("  ")),
          lit(s" $a  $b "), lit(s" $a$b ")),
        lit("  "), lit(" ")).as("repr"),
      col("wcnt"))

  /** Character-symbolized initial vocab: (` c1 c2 … ck `, wcnt). */
  private def bpeInitWords(wc: DataFrame): DataFrame =
    wc.groupBy("tok").agg(sum("c").as("wcnt"))
      .select(concat(lit(" "),
        trim(regexp_replace(col("tok"), "(.)", "$1 ")), lit(" ")).as("repr"),
        col("wcnt"))

  /** The symbolized vocab after `rounds` BPE merges (repr, wcnt). */
  private def bpeTrainWords(wc: DataFrame, rounds: Int): DataFrame =
    bpeTrainLoop(wc, rounds)._2

  /** SESSION-CACHED post-merge vocab for the store-backed faces: the
    * training chain runs once per (dir, rounds) and every consumer
    * (`bpe_vocab_after`, `bpe_apply`) reads the frozen words table —
    * the frozen-codebook pattern (PQ/ccnet precedent); the index face
    * keeps its own ingest-maintained word counts and is NOT cached
    * here. */
  private def bpeTrainWordsCached(spark: SparkSession, dir: String,
                                  rounds: Int): DataFrame =
    bpeTrainWordsOf(spark, wordCounts(spark, dir),
      s"bpe_words:$dir:$rounds", rounds)

  /** Session-cached trained words over an EXPLICIT count table — the
    * index face trains its own frozen vocabulary from the
    * ingest-maintained word counts under its own cache key. */
  private[graft] def bpeTrainWordsOf(spark: SparkSession, wc: DataFrame,
                                     cacheKey: String,
                                     rounds: Int): DataFrame =
    Catalog.appCached(spark, cacheKey)(bpeTrainWords(wc, rounds))

  /** The sequential Sennrich training loop: per round, one distributed
    * argmax job whose 1-row result lands on the driver, then a LITERAL
    * greedy merge into the vocab plan. Returns the learned merges (≤
    * rounds — the loop stops early on an exhausted vocab, matching the
    * oracle's empty-b$r rounds) and the post-merge words plan (a flat
    * `rounds`-deep project chain — no joins, no window, O(rounds)
    * expression nodes, so deep training keeps plan analysis O(rounds)
    * instead of the old chained-join O(rounds²)). At 100 TB the loop is
    * `rounds` vocab-sized map+rollup jobs — the training IS sequential
    * (each round's counts depend on the last merge); only O(rounds)
    * rows of metadata ever reach the driver. */
  private def bpeTrainLoop(wc: DataFrame, rounds: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    var words = bpeInitWords(wc)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      bpeBestPair(words) match {
        case Some((a, b, c)) =>
          merges += ((r.toLong, a, b, c))
          words = bpeMergeOne(words, a, b)
        case None => exhausted = true
      }
      r += 1
    }
    (merges.result(), words)
  }

  /** The (rnd, a, b, pair_count) merge table for [[bpeTrainRounds]],
    * over an explicit (tok, c) count table — ONE training definition
    * for the session cache and the ingest-maintained index table
    * (`FeatureIndex.indexedBpeTrainRounds`). The table itself is
    * O(rounds) driver metadata (a LocalRelation), built by
    * [[bpeTrainLoop]]'s argmax jobs. */
  private[graft] def bpeTrainMergeTable(wc: DataFrame,
                                        rounds: Int): DataFrame = {
    val spark = wc.sparkSession
    import spark.implicits._
    bpeTrainLoop(wc, rounds)._1.toDF("rnd", "a", "b", "pair_count")
  }

  // —————————— unigram-LM (SentencePiece/Kudo) tokenizer trainer ——————————

  /** Maximum piece length the unigram trainer considers — seed
    * substrings and Viterbi lookback alike (one constant, or the DP
    * would search pieces the seed can never contain). */
  private val UniMaxPiece = 4

  /** "Infinite" Viterbi cost for an out-of-vocabulary piece: orders of
    * magnitude above any real path cost (≤ word length × max micro-nat
    * surprisal ≈ 64 × 2e7), yet far enough from Long overflow that one
    * addition cannot wrap. */
  private val UniBig = 1000000000000000L

  /** Distinct normalized words with total corpus counts — the unigram
    * trainer's working set. Vocabulary-sized; after the shared
    * word-count pass the corpus is never re-read (at 100 TB every EM
    * round is a vocab-sized job, the [[bpeTrainLoop]] scale shape).
    * `ns` namespaces the cache per count-table source (session vs
    * index), the [[bpeTrainWordsOf]] discipline. */
  private def uniWordsOf(spark: SparkSession, wc: DataFrame,
                         ns: String): DataFrame =
    Catalog.appCached(spark, s"uni_words:$ns")(
      wc.groupBy("tok").agg(sum("c").as("c")).localCheckpoint())

  private def uniWords(spark: SparkSession, dir: String): DataFrame =
    uniWordsOf(spark, wordCounts(spark, dir), s"s:$dir")

  /** All substrings of length 1..[[UniMaxPiece]] with total occurrence
    * mass (in-word occurrences × the word's corpus count) — the seed
    * candidate table. Kudo seeds from the most frequent substrings (via
    * suffix array at scale); at piece length ≤ 4 the direct position ×
    * length explosion is O(len · UniMaxPiece) per distinct word. */
  private def uniCandidates(words: DataFrame): DataFrame =
    words
      .select(col("tok"), col("c"),
        explode(sequence(lit(1), length(col("tok")))).as("p"))
      .select(col("tok"), col("c"), col("p"),
        explode(sequence(lit(1),
          least(lit(UniMaxPiece), length(col("tok")) - col("p") + 1)))
          .as("l"))
      .select(col("tok").substr(col("p"), col("l")).as("piece"), col("c"))
      .groupBy("piece").agg(sum("c").as("cnt"))

  /** The frozen seed vocabulary: EVERY single character (coverage — a
    * Viterbi path always exists) plus the top-`k` longer substrings by
    * (mass desc, piece asc) — a deterministic TakeOrdered, identical in
    * both engines. The vocabulary never changes across EM rounds (no
    * pruning — a deliberate, documented determinism deviation from
    * Kudo's prune-to-budget schedule; add-one smoothing in [[uniCosts]]
    * keeps zero-usage pieces finite instead). */
  private def uniSeed(words: DataFrame, k: Int): DataFrame = {
    val cands = uniCandidates(words)
    cands.where(length(col("piece")) === 1)
      .unionByName(cands.where(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece").asc).limit(k))
  }

  /** Piece costs from usage counts: add-one-smoothed micro-nat
    * surprisal `nllu = floor(ln(N / (cnt+1)) · 1e6 + 0.5)` with
    * N = Σ(cnt+1) — the [[ccnetDocScores]] nllu discipline (quantized
    * ln is the house pattern for micro-nat columns; every other number
    * in the face is an exact integer). */
  private def uniCosts(vocab: DataFrame): DataFrame = {
    val n = vocab.agg(sum(col("cnt") + 1).as("nn"))
    vocab.crossJoin(broadcast(n))
      .select(col("piece"), col("cnt"),
        floor(log(col("nn").cast("double") / (col("cnt") + 1)) * 1e6
          + 0.5).cast("long").as("nllu"))
  }

  /** Viterbi segmentation of every distinct word under a FROZEN cost
    * map (collected once per round — PIECE-vocabulary metadata, ≤ k +
    * alphabet entries, never the word vocabulary and never data):
    * forward DP over word positions via one builtin `aggregate`
    * (best[i] = min over the ≤ [[UniMaxPiece]] predecessors; cost ties
    * take the SMALLEST predecessor = the longest final piece — the
    * deterministic convention the oracle's CASE chain replays), then a
    * parent-walk backtrack emits the chosen pieces. O(len · maxPiece)
    * integer work per DISTINCT word — at 100 TB this runs once per
    * vocabulary entry, never per token occurrence, and the whole round
    * is embarrassingly parallel over words. */
  private def uniSegmented(words: DataFrame, costs: Map[String, Long])
      : DataFrame = {
    val vocab = typedLit(costs)
    val tok = col("tok")
    val dp = aggregate(
      sequence(lit(1), length(tok)),
      struct(array(lit(0L)).as("best"), array(lit(-1)).as("par")),
      (acc, i) => {
        val best = acc.getField("best")
        // candidate predecessors in ASCENDING j order (piece length
        // descending), so the first tie wins = smallest j
        val cands = (UniMaxPiece to 1 by -1).map { k =>
          val j = i - k
          val cost = when(j >= 0,
            element_at(best, (j + 1).cast("int")) +
              coalesce(element_at(vocab, tok.substr(j + 1, lit(k))),
                lit(UniBig)))
            .otherwise(lit(UniBig))
          (j, cost)
        }
        val m = least(cands.map(_._2): _*)
        val parent = cands.tail.foldLeft(
            when(cands.head._2 === m, cands.head._1)) {
          case (w, (j, cost)) => w.when(cost === m, j)
        }.cast("int")
        struct(concat(best, array(m)).as("best"),
          concat(acc.getField("par"), array(parent)).as("par"))
      })
    words
      .withColumn("d", dp)
      .withColumn("pieces", aggregate(
        sequence(lit(1), length(tok)),
        struct(length(tok).cast("int").as("i"),
          typedLit(Seq.empty[String]).as("ps")),
        (acc, _) => {
          val i = acc.getField("i")
          val p = element_at(col("d").getField("par"), (i + 1).cast("int"))
          when(i > 0, struct(p.as("i"),
            concat(acc.getField("ps"), array(tok.substr(p + 1, i - p)))
              .as("ps")))
            .otherwise(acc)
        },
        acc => acc.getField("ps")))
      .select(col("tok"), col("c"), col("pieces"))
  }

  /** Viterbi usage counts over the frozen seed vocabulary: per piece,
    * Σ (word count × occurrences in the word's chosen path); unused
    * pieces stay as explicit zero rows (the vocabulary is frozen). */
  private def uniUsage(seg: DataFrame, vocab: DataFrame): DataFrame =
    vocab.select("piece").join(
      seg.select(explode(col("pieces")).as("piece"), col("c"))
        .groupBy("piece").agg(sum("c").as("u")),
      Seq("piece"), "left")
      .select(col("piece"), coalesce(col("u"), lit(0L)).as("cnt"))

  /** The full unigram-EM state table (rnd, piece, cnt, nllu) — built
    * ONCE per (corpus, k, rounds) and shared by the train face, the
    * apply face, and repeated Verify/Bench calls (the BPE frozen-
    * codebook cache discipline: two faces training separately could
    * silently drift). */
  private def uniTrainTable(spark: SparkSession, dir: String,
                            k: Int, rounds: Int): DataFrame =
    uniTrainTableOf(spark, wordCounts(spark, dir), s"s:$dir", k, rounds)

  /** [[uniTrainTable]] over an explicit (tok, c) count table — ONE
    * training definition for the session cache and the ingest-maintained
    * index table (`FeatureIndex.indexedUnigramLmTrain`); `ns` keys the
    * cache per source so a session-vs-index training drift would fail
    * exactly one key. */
  private[graft] def uniTrainTableOf(spark: SparkSession, wc: DataFrame,
                                     ns: String, k: Int,
                                     rounds: Int): DataFrame =
    Catalog.appCached(spark, s"uni_lm:$ns:$k:$rounds") {
      val words = uniWordsOf(spark, wc, ns)
      val seedVocab = uniSeed(words, k).localCheckpoint()
      var cur = uniCosts(seedVocab).localCheckpoint()
      var out = cur.withColumn("rnd", lit(0L))
      for (r <- 1 to rounds) {
        val costs = cur.select("piece", "nllu").collect()
          .map(row => row.getString(0) -> row.getLong(1)).toMap
        val usage = uniUsage(uniSegmented(words, costs), seedVocab)
        cur = uniCosts(usage).localCheckpoint()
        out = out.unionByName(cur.withColumn("rnd", lit(r.toLong)))
      }
      out.localCheckpoint()
    }

  /** SentencePiece UNIGRAM-LM trainer face (Kudo 2018) — the OTHER
    * mainstream subword trainer next to the Sennrich BPE family
    * (r17-VERDICT item 3), under the fixed-round unroll discipline
    * every iterative trainer here follows (Lloyd k-means, PCA,
    * `bpe_train_rounds`): seed vocabulary = all single chars + top-k
    * frequent substrings (len ≤ 4), then `rounds` Viterbi-EM rounds —
    * E-step segments every distinct word under the current costs
    * (hard-EM: the Viterbi path, not forward-backward expectations —
    * the deterministic-integer variant of Kudo's E-step), M-step
    * re-estimates add-one-smoothed micro-nat costs from the usage
    * counts. Emits the whole training trajectory: per (round, piece),
    * the exact-integer usage count and the quantized cost — round 0 is
    * the seed state. One training serves the apply face
    * ([[unigramLmApply]]) and every spec. */
  def unigramLmTrain(spark: SparkSession, dir: String,
                     k: Int = 24, rounds: Int = 2): DataFrame =
    unigramLmTrainFromCounts(spark, wordCounts(spark, dir), s"s:$dir",
      k, rounds)

  /** The train face over an explicit (tok, c) count table — shared by
    * the session path and `FeatureIndex.indexedUnigramLmTrain` (one
    * definition, one oracle). */
  private[graft] def unigramLmTrainFromCounts(spark: SparkSession,
      wc: DataFrame, ns: String, k: Int, rounds: Int): DataFrame =
    uniTrainTableOf(spark, wc, ns, k, rounds)
      .select(col("rnd"), col("piece"), col("cnt").as("usage"),
        col("nllu"))
      .orderBy("rnd", "piece")

  /** Unigram-LM APPLY at the frozen trained costs — the
    * [[bpeApplyFromCounts]] shape for the unigram family: every
    * distinct word Viterbi-segmented ONCE under the final round's
    * costs, then a token-keyed join rolls per-doc word and piece
    * counts (the corpus is never re-segmented per document). The
    * per-doc piece inflation `n_pieces / n_words` is the fertility
    * readout a tokenizer choice is judged by. */
  def unigramLmApply(spark: SparkSession, dir: String,
                     k: Int = 24, rounds: Int = 2): DataFrame =
    unigramLmApplyFromCounts(spark, wordCounts(spark, dir), s"s:$dir",
      k, rounds)

  /** The apply face over an explicit (doc_id, tok, c) count table —
    * shared by the session path and
    * `FeatureIndex.indexedUnigramLmApply`. */
  private[graft] def unigramLmApplyFromCounts(spark: SparkSession,
      wc: DataFrame, ns: String, k: Int, rounds: Int): DataFrame = {
    wc.select("doc_id", "tok", "c")
      .join(uniPerWordPieces(spark, wc, ns, k, rounds), "tok")
      .groupBy("doc_id")
      .agg(sum("c").as("n_words"),
        sum(col("c") * col("np")).as("n_pieces"))
      .orderBy("doc_id")
  }

  /** Per-distinct-word piece counts AND Viterbi path costs at the
    * frozen final costs — shared by the apply, fertility, and LM-score
    * faces (each word segmented ONCE per (source, config),
    * session-cached). `wcost` is the exact integer sum of the chosen
    * pieces' micro-nat costs — the word's negative log-likelihood under
    * the trained unigram LM. */
  private def uniPerWordPieces(spark: SparkSession, wc: DataFrame,
                               ns: String, k: Int,
                               rounds: Int): DataFrame =
    Catalog.appCached(spark, s"uni_np:$ns:$k:$rounds") {
      val finalCosts = uniTrainTableOf(spark, wc, ns, k, rounds)
        .where(col("rnd") === rounds)
        .select("piece", "nllu").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val vocab = typedLit(finalCosts)
      uniSegmented(uniWordsOf(spark, wc, ns), finalCosts)
        .select(col("tok"), size(col("pieces")).cast("long").as("np"),
          aggregate(col("pieces"), lit(0L), (acc, p) =>
            acc + coalesce(element_at(vocab, p), lit(UniBig)))
            .as("wcost"))
        .localCheckpoint()
    }

  /** Unigram-tokenizer FERTILITY per source — the `bpe_fertility` twin
    * for the unigram family (pieces emitted per word at the frozen
    * trained state, the sentencepiece/HF tokenizer-QA metric): a domain
    * the trained pieces ignore is visible before training pays for it.
    * Reuses the per-word segmentation ([[uniPerWordPieces]] — one
    * Viterbi pass per distinct word) re-keyed by source; O(#sources)
    * rollup. */
  def unigramFertility(spark: SparkSession, dir: String,
                       k: Int = 24, rounds: Int = 2): DataFrame = {
    val wc = wordCounts(spark, dir)
    wc.select("doc_id", "source", "tok", "c")
      .join(uniPerWordPieces(spark, wc, s"s:$dir", k, rounds), "tok")
      .groupBy("source")
      .agg(countDistinct("doc_id").as("n_docs"),
        sum("c").as("n_words"),
        sum(col("c") * col("np")).as("n_pieces"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_pieces"),
        q6(col("n_pieces") * lit(1.0) / col("n_words")).as("fertility"))
      .orderBy("source")
  }

  /** Per-document LM SCORE at the frozen trained unigram vocabulary —
    * the quality face the trainer exists to serve (the CCNet filtering
    * role, Wenzek et al. 2020, played by the TRAINED SUBWORD LM instead
    * of [[unigramLogprob]]'s corpus word-unigram): each doc's total and
    * mean Viterbi path cost in integer micro-nats. `sum_nllu` is the
    * doc's negative log-likelihood under the LM (the document's
    * "perplexity mass"); `mean_nllu = sum_nllu div n_pieces` is the
    * per-piece surprisal a head/middle/tail quality split keys on —
    * integer division, so every compared number is an exact integer.
    *
    * Scale: the corpus is never re-segmented per document — each
    * DISTINCT word is segmented once ([[uniPerWordPieces]], the shared
    * session-cached table; at 100 TB the ingest-maintained vocabulary
    * index), then one token-keyed join rolls doc scores from word
    * costs. */
  def unigramLmScore(spark: SparkSession, dir: String,
                     k: Int = 24, rounds: Int = 2): DataFrame =
    unigramLmScoreFromCounts(spark, wordCounts(spark, dir), s"s:$dir",
      k, rounds)

  /** The score face over an explicit (doc_id, tok, c) count table —
    * shared by the session path and
    * `FeatureIndex.indexedUnigramLmScore` (one scoring definition, one
    * oracle — the apply-face discipline). */
  private[graft] def unigramLmScoreFromCounts(spark: SparkSession,
      wc: DataFrame, ns: String, k: Int, rounds: Int): DataFrame =
    wc.select("doc_id", "tok", "c")
      .join(uniPerWordPieces(spark, wc, ns, k, rounds), "tok")
      .groupBy("doc_id")
      .agg(sum(col("c") * col("np")).as("n_pieces"),
        sum(col("c") * col("wcost")).as("sum_nllu"))
      .withColumn("mean_nllu", expr("sum_nllu div n_pieces"))
      .select("doc_id", "n_pieces", "sum_nllu", "mean_nllu")
      .orderBy("doc_id")

  /** CCNet-style PERPLEXITY BUCKETS (Wenzek et al. 2020): each document
    * scored by its mean unigram surprisal under the corpus LM (the
    * [[unigramLogprob]] per-doc contract, integer micro-nats), then
    * split per LANGUAGE into head/middle/tail terciles — the standard
    * quality partition a crawl pipeline keeps/samples/drops by. One row
    * per (lang, bucket) with doc count and mean score.
    *
    * Parity: per-doc scores are exact integer micro-nats; the tercile
    * thresholds come from the engine's exact sort-based quantile core
    * (interpolated, identical IEEE sequence both engines); bucket
    * comparison is long-vs-rounded-double, bit-stable. Scale: one
    * rollup over the shared word-count table, a per-lang rank window
    * (spillable), O(langs × 2) broadcast thresholds. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketsFromCounts(wordCounts(spark, dir),
      cacheNs = Some((spark, dir)))

  /** The per-doc CCNet surprisal table (doc_id, lang, nllu integer
    * micro-nats) from an explicit (doc_id, lang, tok, c) count table —
    * ONE scoring definition for the session cache and the
    * index-PERSISTED `doc_ccnet` table (`FeatureIndex.docIndexFor`
    * scores each doc against the corpus LM once at build time — r14:
    * the index face previously re-derived this per read, the bench's
    * standing top-cost candidate). */
  private[graft] def ccnetDocScores(wc: DataFrame): DataFrame = {
    val vocab = wc.groupBy("tok").agg(sum("c").as("cf"))
    val tot = vocab.agg(sum("cf").as("n"))
    wc.join(vocab, "tok")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "lang")
      .agg(floor(sum(col("c") * -log(col("cf") * lit(1.0) / col("n")))
        / sum("c") * 1e6 + 0.5).cast("long").as("nllu"))
  }

  /** The tercile + rollup tail of [[ccnetBuckets]] over an explicit
    * per-doc score table — shared by the session face and the
    * index-served face (which reads the persisted scores). */
  private[graft] def ccnetBucketsFromScores(doc: DataFrame): DataFrame = {
    val th = exactQuantilesOf(doc.select("lang", "nllu"), "lang", "nllu",
        Seq(1.0 / 3, 2.0 / 3))
      .groupBy("lang")
      .agg(min(when(col("p") < 0.5, col("q"))).as("q33"),
           min(when(col("p") > 0.5, col("q"))).as("q67"))
    doc.join(broadcast(th), "lang")
      .withColumn("bucket",
        when(col("nllu") <= col("q33"), lit("head"))
          .when(col("nllu") <= col("q67"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        q6(sum("nllu") / (count(lit(1)) * lit(1e6))).as("avg_nll"))
      .orderBy("lang", "bucket")
  }

  /** [[ccnetBuckets]] over an explicit (doc_id, lang, tok, c) count
    * table. The per-doc surprisal table is parameter-independent, so
    * the session face SESSION-CACHES it (the word-count feature-table
    * contract: scored once per corpus, every later read is a 2-column
    * cached scan); the index face reads the PERSISTED score table
    * instead of calling this at all. */
  private[graft] def ccnetBucketsFromCounts(wc: DataFrame,
      cacheNs: Option[(SparkSession, String)] = None): DataFrame = {
    // localCheckpoint: the doc-score table feeds the quantile chain AND
    // the bucket rollup — one derivation, not two
    val doc0 = ccnetDocScores(wc)
    val doc = cacheNs match {
      case Some((spark, ns)) =>
        Catalog.appCached(spark, s"ccnet_doc:$ns")(doc0.localCheckpoint(true))
      case None => doc0.localCheckpoint(true)
    }
    ccnetBucketsFromScores(doc)
  }

  /** CHARACTER-COVERAGE table (the `character_coverage` knob every
    * SentencePiece/BPE training run sets): the top-k characters of the
    * normalized corpus by occurrence, with cumulative share — the read
    * that decides how much of the alphabet a fixed-size symbol
    * inventory covers (and which long-tail characters fall back to
    * byte pieces). Spaces excluded (they are the pre-tokenizer's
    * delimiter, not an alphabet symbol).
    *
    * Scale: the explode is one linear pass over corpus characters
    * (cluster-wide, the repartitioned documents contract) that
    * map-side-combines straight down to the O(|charset|) count table;
    * the rank/cumulative windows run on that bounded table only. */
  def charCoverage(spark: SparkSession, dir: String,
                   k: Int = 20): DataFrame =
    charCoverageFromCounts(wordCounts(spark, dir), k)

  /** [[charCoverage]] over an explicit (tok, c) count table. The
    * normalized corpus's non-space characters are EXACTLY the
    * characters of every token occurrence (normText is tokens joined by
    * single spaces), so char counts = Σ_(doc,tok) c × per-token char
    * counts — the same multiset the raw-text scan would produce, served
    * from the shared/ingest-maintained word-count table instead of a
    * second corpus pass. Shared with the index face. */
  private[graft] def charCoverageFromCounts(wc: DataFrame,
                                            k: Int): DataFrame = {
    val counts = wc
      .groupBy("tok").agg(sum("c").as("wcnt"))
      // an empty-text doc yields one empty token; sequence(1, 0) would
      // infer a NEGATIVE step and emit bogus indices, so it never runs
      .where(length(col("tok")) >= 1)
      .select(col("wcnt"),
        explode(sequence(lit(1), length(col("tok")))).as("i"),
        col("tok"))
      .select(expr("substr(tok, i, 1)").as("ch"), col("wcnt"))
      .groupBy("ch").agg(sum("wcnt").as("cnt"))
    // unpartitioned windows over the AGGREGATED charset table —
    // O(|charset|) rows on one partition, never the corpus
    val w = Window.orderBy(desc("cnt"), col("ch"))
    counts
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum", sum("cnt").over(w))
      .withColumn("total", sum("cnt").over(Window.partitionBy()))
      .where(col("rnk") <= k)
      .select(col("rnk"), col("ch"), col("cnt"),
        q6(col("cum") / col("total")).as("cum_share"))
      .orderBy("rnk")
  }

  /** PERPLEXITY FILTER — the CCNet/KenLM LM gate as a per-document
    * decision face: each doc's mean token NLL under the corpus unigram
    * LM (the [[unigramLogprob]] definition, SHARED — this face derives
    * from the same integer micro-nat per-doc score, so the filter can
    * never drift from the reported metric), its perplexity
    * `exp(mean NLL)`, and the keep/drop decision at `maxNll`. The keep
    * gate compares INTEGER micro-nats (never the rounded double), so
    * the cut is exact in both engines; CCNet's "keep the middle, drop
    * gibberish AND boilerplate" refinement is the tercile face
    * (`ccnet_buckets`) — this is the single-threshold gate most
    * pipelines actually run.
    *
    * Plan: ONE scoring definition for the whole engine —
    * [[ccnetDocScores]] (shared with `ccnet_buckets` and the persisted
    * `doc_ccnet` index table) over the shared [[wordCounts]] feature
    * table (vocab shuffle join on token, AQE-split stopword skew,
    * ONE-ROW broadcast total), then the [[perplexityFilterFromScores]]
    * decision tail. O(#docs) output. The closing global orderBy is
    * HARNESS determinism only — a production rewrite job would drop it
    * and write partition-parallel. */
  def perplexityFilter(spark: SparkSession, dir: String,
                       maxNll: Double = 3.41): DataFrame =
    perplexityFilterFromScores(
      ccnetDocScores(wordCounts(spark, dir)),
      docsParallel(spark, dir).select("doc_id", "source"), maxNll)

  /** The decision tail of [[perplexityFilter]] over an explicit per-doc
    * score table ((doc_id, nllu) — the [[ccnetDocScores]] output) —
    * shared by the session face and the index-served face (which reads
    * the persisted `doc_ccnet` scores), so the gate can never drift
    * from the score a bucket report was built on. The doc-metadata join
    * is (doc_id)-keyed O(#docs) both sides — AQE's shuffle join, no
    * hint. */
  private[graft] def perplexityFilterFromScores(scores: DataFrame,
      docMeta: DataFrame, maxNll: Double): DataFrame =
    scores.select("doc_id", "nllu").join(docMeta, "doc_id")
      .select(col("doc_id"), col("source"),
        q6(col("nllu") / lit(1e6)).as("nll"),
        q6(exp(col("nllu") / lit(1e6))).as("ppl"),
        (col("nllu") <= lit(math.round(maxNll * 1e6))).as("keep"))
      .orderBy("doc_id")
}
