package graft.ext

import graft.Pins._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFns._
import graft.functions.CleanFns.r6

/** Training-data deduplication suite (beyond-parity; SURVEY.md §7.5):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash — all over `documents`.
  *
  * Scale notes (the 100 TB shapes):
  *  - exact dedup groups on a 64-hex fingerprint, not the raw text — the
  *    shuffle moves 32-byte keys, not documents;
  *  - MinHash candidates shuffle (band_id, band_hash) pairs — k·B integers
  *    per doc — and bucket fan-out is capped so one degenerate bucket cannot
  *    produce O(n²) pairs;
  *  - pairwise Jaccard is only ever evaluated on candidate pairs (LSH) or a
  *    sampled anchor set, never all-pairs.
  */
object DedupExt {

  /** Exact dedup: one group per normalized-text fingerprint; keeper is the
    * smallest doc_id (deterministic). */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.select(fingerprint(col("text")).as("fp"), col("doc_id"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Train/val/test contamination audit — the ML-hygiene check
    * [[graft.ext.TextAnalysis]]'s n-gram decontamination does at the
    * EVAL-corpus level, here applied to the split boundary itself: a
    * val/test document whose exact content fingerprint also appears in
    * train inflates every metric computed on it. Only 32-byte
    * fingerprints move (the exactDedup discipline); the train
    * fingerprint set semi-joins each held-out split. Deterministic
    * hash-bucket splits, so the audit is reproducible on any engine. */
  def splitContamination(docs: DataFrame): DataFrame = {
    val fp = graft.operators.Sampling.splitAssign(docs, col("doc_id"))
      .select(col("split"), fingerprint(col("text")).as("fp"))
      .pinned() // train set + both held-out splits read it
    val trainFps = fp.filter(col("split") === "train")
      .select(col("fp")).distinct()
    Seq("test", "val").map { s =>
      val part = fp.filter(col("split") === s)
      val cont = part.join(trainFps, Seq("fp"), "left_semi")
        .agg(count(lit(1)).as("n_contaminated"))
      part.agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(cont))
        .select(lit(s).as("split"), col("n_docs"), col("n_contaminated"),
          r6(when(col("n_docs") > 0L,
            col("n_contaminated").cast("double") /
              col("n_docs").cast("double")).otherwise(lit(0.0)))
            .as("contamination_rate"))
    }.reduce(_ unionAll _).orderBy("split")
  }

  /** Incremental corpus dedup — the ingest-time shape: a NEW batch of
    * documents (doc_id ≥ batchFrom stands in for the arriving batch)
    * checks its content fingerprints against the fingerprint set the
    * corpus already holds. Only 32-byte fingerprints ever move: the batch
    * hash-joins the deduplicated corpus fingerprint set, document text
    * never shuffles, and the corpus is scanned once — not rescanned per
    * document. This composes with the streaming upsert sink to give
    * dedup-on-arrival for a continuously-growing corpus. */
  def incrementalDedup(docs: DataFrame, batchFrom: Long = 250L): DataFrame = {
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val corpusFps = fp.filter(col("doc_id") < batchFrom)
      .select(col("fp")).distinct()
      .withColumn("is_dup", lit(1))
    fp.filter(col("doc_id") >= batchFrom)
      .join(corpusFps, Seq("fp"), "left")
      .select(col("doc_id"), coalesce(col("is_dup"), lit(0)).as("is_dup"))
  }

  /** Sampled-anchor n-gram Jaccard: anchors (doc_id % anchorMod == 0)
    * compared against all same-lang partners. The lang equi-join is the
    * blocking key — at scale this is a broadcast of the (small) anchor set,
    * zero shuffle of the full corpus. */
  def jaccardPairs(docs: DataFrame, anchorMod: Int = 97, n: Int = 3): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val withShingles = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        graft.plans.TextSketches.word_shingles(col("toks"), n).as("sh"))
    val anchors = withShingles.filter(col("doc_id") % anchorMod === 0)
      .select(col("doc_id").as("doc_id_a"), col("lang"),
        col("sh").as("sh_a"))
    withShingles
      .select(col("doc_id").as("doc_id_b"), col("lang"), col("sh").as("sh_b"))
      .join(broadcast(anchors), Seq("lang"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** MinHash signatures per document, via the native `MinHashSig`
    * expression: tokenization stays a codegen'd split/filter; shingle
    * assembly + hashing + the k-permutation fold happen in ONE tight JVM
    * loop per row (the HOF shingles/transform formulation is
    * interpreter-bound — see graft.plans.TextSketches). */
  def minhashSignatures(docs: DataFrame, k: Int = 32): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.plans.TextSketches.minhash_sig(col("toks"), k).as("sig"))
  }

  /** MinHash-LSH candidate pairs: band the signatures, bucket-join on
    * (band, hash), emit normalized (small, large) pairs. `bucketCap` guards
    * against degenerate buckets (common-prefix spam at scale). */
  def minhashCandidates(docs: DataFrame, k: Int = 32, bands: Int = 16,
                        bucketCap: Int = 50): DataFrame =
    // localCheckpoint before the explode: InferFiltersFromGenerate otherwise
    // clones the whole tokens→shingles→minhash tree into a size()>0 filter
    // (with the token array re-inlined per element_at — measured ~20×).
    // The signature frame is k longs per doc — the cheap thing to pin.
    minhashCandidatesFromSigs(minhashSignatures(docs, k).pinned(),
      k, bands, bucketCap)

  /** LSH banding/bucketing over a PRE-MATERIALIZED (doc_id, sig) frame —
    * the entry point when signatures are shared with other pipeline
    * stages (see `dedupPipeline`). */
  def minhashCandidatesFromSigs(sigs: DataFrame, k: Int = 32,
                                bands: Int = 16,
                                bucketCap: Int = 50): DataFrame = {
    val rows = k / bands
    val banded = sigs
      .select(col("doc_id"),
        posexplode(bandHashes(col("sig"), bands, rows))
          .as(Seq("band_id", "band_hash")))
    banded.groupBy("band_id", "band_hash")
      .agg(collect_list(col("doc_id")).as("bucket"))
      .filter(size(col("bucket")).between(2, bucketCap))
      .select(explode(flatten(transform(col("bucket"), (x, i) =>
        transform(slice(col("bucket"), i + 2, size(col("bucket"))),
          y => struct(least(x, y).as("a"), greatest(x, y).as("b"))))))
        .as("pair"))
      .select(col("pair.a").as("doc_id_a"), col("pair.b").as("doc_id_b"))
      .distinct()
  }

  /** End-to-end near-dup deduplication — the composition a training-data
    * pipeline actually runs: MinHash-LSH candidate generation → exact
    * n-gram-Jaccard verification of ONLY the candidates → connected
    * components over verified pairs → one canonical keeper per cluster.
    * No stage ever compares all pairs: LSH bounds the candidate set,
    * verification touches candidates only, and clustering shuffles
    * (node, label) pairs. Returns (doc_id, cluster_id, is_keeper). */
  def dedupPipeline(docs: DataFrame, threshold: Double = 0.5): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    // Tokenize ONCE; signatures and verification shingles both read the
    // pinned token frame instead of re-scanning + re-splitting documents.
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .pinned()
    val sigs = toks.select(col("doc_id"),
      graft.plans.TextSketches.minhash_sig(col("toks"), 32).as("sig"))
      .pinned()
    val cands = minhashCandidatesFromSigs(sigs)
    // localCheckpoint: the shingle frame feeds both sides of the
    // candidate-verification join.
    val sh = toks.select(col("doc_id"),
        graft.plans.TextSketches.word_shingles(col("toks"), 3).as("sh"))
      .pinned()
    val verified = cands
      .join(sh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        "doc_id_b")
      .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("doc_id_a").as("a"), col("doc_id_b").as("b"))
    val comps = DedupCluster.connectedComponents(verified)
    docs.join(comps, docs("doc_id") === comps("node"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper",
        (col("doc_id") === col("cluster_id")).cast("bigint"))
  }

  /** Sampled-anchor edit-distance similarity: Levenshtein distance and a
    * normalized similarity (1 − dist/maxLen) for anchor docs against
    * same-lang partners — the character-level complement to the token-set
    * Jaccard above (catches small in-token edits Jaccard misses). Same
    * broadcast-anchor blocking as `jaccardPairs`: the corpus never
    * shuffles, and the O(len²) distance is evaluated only on the sampled
    * pairs, never all-pairs. */
  def editSimilarity(docs: DataFrame, anchorMod: Int = 97): DataFrame = {
    val anchors = docs.filter(col("doc_id") % anchorMod === 0)
      .select(col("doc_id").as("doc_id_a"), col("lang"),
        col("text").as("text_a"))
    docs.select(col("doc_id").as("doc_id_b"), col("lang"),
        col("text").as("text_b"))
      .join(broadcast(anchors), Seq("lang"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("text_a"), col("text_b")).cast("bigint").as("dist"),
        // two empty texts: distance 0, similarity 1 by convention — the
        // unguarded ratio would be 0/0 (an error under ANSI mode).
        when(greatest(length(col("text_a")), length(col("text_b"))) === 0,
          lit(1.0))
          .otherwise(round(lit(1.0) -
            levenshtein(col("text_a"), col("text_b")) /
              greatest(length(col("text_a")), length(col("text_b"))), 6))
          .as("sim"))
  }

  /** Blocked record linkage (entity resolution): probe records — part
    * names with their last character dropped, a deterministic stand-in
    * for the dirty feed a linkage job reconciles — are matched back to
    * the catalog through a BLOCKING key (the name's first token), so the
    * O(len²) Levenshtein runs only inside blocks, never all-pairs. Per
    * probe: the best match (min distance, id tie-break), how many
    * candidates the block admitted, and how many cleared `maxDist` —
    * the audit trail that shows the blocking did its job.
    *
    * Scale shape: probes are a sampled sliver (broadcast); the catalog
    * never shuffles into pairs beyond its block — in fact pairs never
    * shuffle AT ALL: three provably-lossless cuts run map-side, inside
    * the broadcast-join stage, before anything moves.
    *  1. LENGTH BAND: levenshtein(a,b) ≥ |len(a)−len(b)|, so a pair
    *     whose lengths differ by more than `maxDist` can never match —
    *     pruned before the edit distance runs.
    *  2. THRESHOLDED EDIT DISTANCE: `levenshtein(l, r, maxDist)` runs
    *     the banded O(maxDist·len) DP instead of the full O(len²) grid
    *     and returns −1 for anything over threshold. Exact distances
    *     survive for every pair that can appear in the output (a match
    *     always has dist ≤ maxDist, where the banded DP is exact).
    *  3. MATCH FILTER: only matching pairs (dist ≥ 0) reach the
    *     aggregation, so the shuffle carries a few rows per probe, not
    *     the block fan-out.
    * The best match per probe is then a hash aggregate —
    * min(struct(dist, cand_id, …)) reproduces the (dist, cand_id)
    * ranking without a per-probe sort, with map-side partial
    * aggregation — and n_blocked (defined over the FULL first-token
    * block, the audit of what blocking admitted) comes from a tiny
    * per-block count broadcast back onto the matches. */
  def recordLinkage(parts: DataFrame, probeMod: Int = 10,
                    maxDist: Int = 2): DataFrame = {
    val probes = parts.filter(col("p_partkey") % probeMod === 0)
      .select(col("p_partkey").as("probe_id"),
        substring_index(col("p_name"), " ", 1).as("pb_key"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("probe_name"))
    // repartition() before the broadcast join: the catalog may arrive as
    // ONE scan split (a small dim is a single parquet file), which would
    // run the entire block-fan-out × edit-distance map in one task. A
    // ~20k-row shuffle buys every core a share of the expensive map —
    // the fan-out-heavy-map rule: parallelism must come from the input
    // side, the broadcast side has none to give.
    val cands = parts.select(col("p_partkey").as("cand_id"),
      col("p_name").as("cand_name"),
      substring_index(col("p_name"), " ", 1).as("block_key"))
      // explicit N: AQE leaves user-specified counts alone (it would
      // coalesce a bare repartition() right back to one small partition)
      .repartition(parts.sparkSession.sessionState.conf.numShufflePartitions)
    // n_blocked audits the whole first-token block, so it is counted
    // over the unbanded candidate set and joined back at the end.
    val blockSizes = cands.groupBy("block_key")
      .agg(count(lit(1)).as("n_blocked"))
      .withColumnRenamed("block_key", "pb_key")
    val matches = cands.join(broadcast(probes),
        col("block_key") === col("pb_key") &&
          abs(length(col("cand_name")) - length(col("probe_name")))
            <= maxDist)
      .select(col("probe_id"), col("probe_name"), col("pb_key"),
        col("cand_id"), col("cand_name"),
        levenshtein(col("probe_name"), col("cand_name"), maxDist)
          .cast("bigint").as("dist"))
      .filter(col("dist") >= 0)
    matches
      .groupBy(col("probe_id"))
      .agg(first(col("probe_name")).as("probe_name"),
        first(col("pb_key")).as("pb_key"),
        min(struct(col("dist"), col("cand_id"), col("cand_name")))
          .as("best"),
        count(lit(1)).as("n_match"))
      .join(broadcast(blockSizes), Seq("pb_key"))
      .select(col("probe_id"), col("probe_name"),
        col("best.cand_id").as("matched_id"),
        col("best.cand_name").as("matched_name"),
        col("best.dist").as("dist"), col("n_blocked"), col("n_match"))
      .orderBy("probe_id")
  }

  /** Fuzzy record linkage on Jaro–Winkler — [[recordLinkage]]'s
    * similarity-scored sibling for the matching regimes edit distance
    * handles badly (prefix-weighted name matching). Same first-token
    * blocking and same broadcast-probe shape; the comparator is the
    * native [[graft.plans.JaroWinklerSim]] expression, so scoring stays
    * inside WholeStageCodegen.
    *
    * The pre-score cut is a provably lossless LENGTH-RATIO band: Jaro
    * J ≤ (2 + min/max)/3 (at most min(|a|,|b|) characters can match),
    * and Winkler lifts J by at most 0.4·(1−J), so rounded JW ≥ 0.9
    * forces J ≥ 0.833332 and hence min/max ≥ 0.499998 — for any
    * fixture-scale string (length ≪ 2·10⁵) a rational length ratio
    * below ½ cannot reach 0.499998, so `2·min ≥ max` keeps every
    * possible match. The published similarity is r6-ROUNDED on both
    * engines and the threshold applies to the rounded value, so a
    * last-ulp disagreement between two faithful implementations cannot
    * flip a row in or out of the result. Best match per probe is the
    * windowless min(struct(−sim, cand_id)) ranking, map-side partial. */
  def jaroLinkage(parts: DataFrame, probeMod: Int = 10,
                  minSim: Double = 0.9): DataFrame = {
    import graft.plans.JaroWinklerSim
    JaroWinklerSim.register(parts.sparkSession)
    val probes = parts.filter(col("p_partkey") % probeMod === 0)
      .select(col("p_partkey").as("probe_id"),
        substring_index(col("p_name"), " ", 1).as("pb_key"),
        expr("substring(p_name, 1, length(p_name) - 1)").as("probe_name"))
    // same single-split-dim parallelism note as recordLinkage: the
    // fan-out-heavy map needs its parallelism from the input side
    val cands = parts.select(col("p_partkey").as("cand_id"),
      col("p_name").as("cand_name"),
      substring_index(col("p_name"), " ", 1).as("block_key"))
      .repartition(parts.sparkSession.sessionState.conf.numShufflePartitions)
    val scored = cands.join(broadcast(probes),
        col("block_key") === col("pb_key") &&
          lit(2) * least(length(col("cand_name")),
            length(col("probe_name"))) >=
            greatest(length(col("cand_name")), length(col("probe_name"))))
      .select(col("probe_id"), col("probe_name"), col("cand_id"),
        col("cand_name"),
        r6(JaroWinklerSim.jaro_winkler(col("probe_name"),
          col("cand_name"))).as("sim"))
      .filter(col("sim") >= minSim)
    scored.groupBy(col("probe_id"))
      .agg(first(col("probe_name")).as("probe_name"),
        min(struct((-col("sim")).as("ns"), col("cand_id"),
          col("cand_name"))).as("best"),
        count(lit(1)).as("n_match"))
      .select(col("probe_id"), col("probe_name"),
        col("best.cand_id").as("matched_id"),
        col("best.cand_name").as("matched_name"),
        (-col("best.ns")).as("sim"), col("n_match"))
      .orderBy("probe_id")
  }

  /** Sketch-quality report: for every LSH candidate pair, the MinHash
    * ESTIMATE of Jaccard (fraction of equal signature components — the
    * only number a sketch-only pipeline would have) next to the exact
    * n-gram Jaccard, plus the absolute error. The estimate costs O(k) per
    * pair on data already in flight; the exact value is computed only for
    * candidates, so this doubles as the verification stage's scoring.
    * The zip_with/filter HOFs are interpreted, but they run over candidate
    * PAIRS (LSH-bounded), never the corpus. */
  def minhashEstimateVsExact(docs: DataFrame, k: Int = 32): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .pinned()
    val sigs = toks.select(col("doc_id"),
      graft.plans.TextSketches.minhash_sig(col("toks"), k).as("sig"))
      .pinned()
    val sh = toks.select(col("doc_id"),
        graft.plans.TextSketches.word_shingles(col("toks"), 3).as("sh"))
      .pinned()
    val est = size(filter(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
      b => b)) / lit(k)
    minhashCandidatesFromSigs(sigs, k)
      .join(sigs.select(col("doc_id").as("doc_id_a"), col("sig").as("sig_a")),
        "doc_id_a")
      .join(sigs.select(col("doc_id").as("doc_id_b"), col("sig").as("sig_b")),
        "doc_id_b")
      .join(sh.select(col("doc_id").as("doc_id_a"), col("sh").as("sh_a")),
        "doc_id_a")
      .join(sh.select(col("doc_id").as("doc_id_b"), col("sh").as("sh_b")),
        "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"),
        round(est, 6).as("est_jaccard"),
        round(jaccard(col("sh_a"), col("sh_b")), 6).as("exact_jaccard"))
      .withColumn("abs_err",
        round(abs(col("est_jaccard") - col("exact_jaccard")), 6))
  }

  /** SimHash per document (60-bit, portable md5-based hashing — DuckDB
    * reproduces it exactly). Near-dup pairs = small Hamming distance;
    * pairing is done by the caller (e.g. band on 15-bit chunks). Token
    * hashes are computed once per token inside the native expression. */
  def simhashes(docs: DataFrame): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        graft.plans.TextSketches.simhash60(col("toks")).as("simhash"))
  }

  /** SimHash near-dup candidates: block on 15-bit chunks (any chunk equal →
    * candidate), then exact Hamming ≤ maxDist filter via bit_count. */
  def simhashCandidates(docs: DataFrame, maxDist: Int = 8): DataFrame = {
    // localCheckpoint: the signature frame feeds both join sides below —
    // without it tokenization + per-token hashing runs twice per doc.
    val sh = simhashes(docs).pinned()
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(transform(sequence(lit(0), lit(3)), i =>
        call_function("shiftright", col("simhash"), i * 15)
          .bitwiseAND(lit(0x7FFFL))))
        .as(Seq("chunk_id", "chunk")))
    val a = chunked.select(col("doc_id").as("doc_id_a"),
      col("simhash").as("sh_a"), col("chunk_id"), col("chunk"))
    val b = chunked.select(col("doc_id").as("doc_id_b"),
      col("simhash").as("sh_b"), col("chunk_id"), col("chunk"))
    a.join(b, Seq("chunk_id", "chunk"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Dedup threshold sweep — the tuning report a curation team reads
    * BEFORE fixing the near-dup cutoff: for each candidate Jaccard
    * threshold, how many verified pairs fire and what fraction of the
    * corpus would be dropped (keep-smallest-id convention, so the
    * flagged side is always `doc_id_b` — the same canonical-min rule the
    * cluster stage uses). Sweeping is a post-processing of ONE pair
    * computation: the exact-Jaccard frame materializes once
    * (localCheckpoint) and every threshold is a filter over it — the
    * cost is one verification pass regardless of how many cutoffs are
    * under consideration. Thresholds are integer per-mille compared as
    * `jaccard ≥ t/1000.0` over the 6dp-rounded scores — both sides of
    * the comparison are engine-identical doubles. (Per-mille, not
    * percent: organic trigram-shingle Jaccard between DISTINCT documents
    * lives in the tail — the fixture corpus anchor pairs top out near
    * 26‰ — and a sweep is only a tuning instrument where it actually
    * separates the candidate cutoffs.) */
  def dedupSweep(docs: DataFrame,
                 thresholdsPerMille: Seq[Int] = Seq(2, 5, 10, 15, 20))
      : DataFrame = {
    val pairs = jaccardPairs(docs).pinned()
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    pairs
      .select(col("doc_id_b"), col("jaccard"),
        explode(typedLit(thresholdsPerMille)).as("t"))
      .filter(col("jaccard") >= col("t").cast("double") / lit(1000.0))
      .groupBy("t")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_id_b")).as("n_docs_flagged"))
      .crossJoin(broadcast(nDocs))
      .select(col("t").cast("bigint").as("threshold_pm"),
        col("n_pairs"), col("n_docs_flagged"),
        round(col("n_docs_flagged").cast("double") / col("n_docs"), 6)
          .as("flagged_frac"))
      .orderBy("threshold_pm")
  }

  /** Memo for the linkage frame: `q_record_linkage` and
    * `q_golden_record` both need it in one Bench run — same sharing
    * policy (and key shape) as `StarAnalytics.coPurchaseCounts`,
    * materialized via localCheckpoint so the second consumer reads the
    * sparse match frame shuffle-free instead of re-running the blocked
    * edit-distance pass. */
  def recordLinkageCached(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String): DataFrame =
    graft.Shared(spark, s"linkage@$sfDir")(
      recordLinkage(graft.Tables.part(spark, sfDir)).localCheckpoint())

  /** Golden-record survivorship — the master-data-management step that
    * closes the entity-resolution chain: [[recordLinkage]] finds match
    * pairs, connected components merge them into entities, and this
    * builds ONE canonical record per entity with classic survivorship
    * rules: `golden_id` / `golden_name` from the smallest member key
    * (stable representative), `brand` by most-frequent-value vote (ties
    * to the lexicographically smallest — the min_by(-count, value) total
    * order, a DeclarativeAggregate that partial-collapses map-side), and
    * `max_price` as the upper envelope. Reference analog: the dim upsert's
    * keep-latest conflict rule (load.py:58-67), generalized from
    * same-key replacement to fuzzy-matched entities.
    *
    * Scale shape: the edge list is LINKAGE-OUTPUT-sized (best non-self
    * match per probe — sparse by construction), so the component loop
    * (DedupCluster's min-label propagation, diameter-bounded) runs on the
    * match graph, never the catalog; member attributes arrive by one hash
    * join on the part key; both survivorship aggregates are map-side
    * combined on cluster keys. The catalog is scanned once for linkage
    * and once for the attribute join — nothing quadratic anywhere. */
  def goldenRecords(parts: DataFrame,
                    linkageOpt: Option[DataFrame] = None): DataFrame = {
    val edges = linkageOpt.getOrElse(recordLinkage(parts))
      .filter(col("matched_id") =!= col("probe_id"))
      .select(col("probe_id").as("a"), col("matched_id").as("b"))
    val comp = DedupCluster.connectedComponents(edges)
    val mem = parts.join(comp, parts("p_partkey") === comp("node"))
      .select(col("comp").as("cluster_id"), col("p_partkey"),
        col("p_name"), col("p_brand"), col("p_retailprice"))
      .pinned()
    val brandMode = mem.groupBy("cluster_id", "p_brand")
      .agg(count(lit(1)).as("c"))
      .groupBy("cluster_id")
      .agg(min_by(col("p_brand"),
        struct((-col("c")).as("nc"), col("p_brand"))).as("brand"))
    mem.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        min(col("p_partkey")).as("golden_id"),
        min_by(col("p_name"), col("p_partkey")).as("golden_name"),
        round(max(col("p_retailprice")), 2).as("max_price"))
      .join(brandMode, Seq("cluster_id"))
      .select(col("cluster_id"), col("n_members"), col("golden_id"),
        col("golden_name"), col("brand"), col("max_price"))
      .orderBy("cluster_id")
  }

  /** Per-source duplication accounting — the curation dashboard's
    * "which feeds are polluting the corpus" table: for each source, how
    * many of its documents are exact duplicates (share a normalized
    * content fingerprint with a smaller doc_id — the keep-smallest
    * convention) and how many are SimHash near-duplicates (the flagged
    * `doc_id_b` side of the chunk-blocked candidate pairs at
    * Hamming ≤ maxDist). Shapes are the proven family members': the
    * fingerprint census shuffles 32-byte hashes, the near-dup probe is
    * the banded self-join; this op only adds id-keyed flag joins and a
    * source rollup. */
  def dupBySource(docs: DataFrame, maxDist: Int = 8): DataFrame = {
    val fp = docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))
    val keeper = fp.groupBy("fp").agg(min(col("doc_id")).as("keeper"))
    val exactDup = fp.join(keeper, Seq("fp"))
      .filter(col("doc_id") =!= col("keeper"))
      .select(col("doc_id")).withColumn("is_exact", lit(1))
    val nearDup = simhashCandidates(docs, maxDist)
      .select(col("doc_id_b").as("doc_id")).distinct()
      .withColumn("is_near", lit(1))
    docs.select(col("doc_id"), col("source"))
      .join(exactDup, Seq("doc_id"), "left")
      .join(nearDup, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_exact"), lit(0)).cast("long"))
          .as("n_exact_dup"),
        sum(coalesce(col("is_near"), lit(0)).cast("long"))
          .as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"),
        r6(col("n_near_dup").cast("double") /
          col("n_docs").cast("double")).as("near_dup_rate"))
      .orderBy("source")
  }
}
