package graft.ext

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.TextFns._
import graft.functions.CleanFns.r6

/** Corpus-governance operators for a large-scale training-data pipeline —
  * the per-domain capping / blocklist gating / vocabulary-coverage controls
  * that sit in front of every web-scale curation run (the reference's
  * quality gate, pipeline/quality.py, generalized from per-record checks to
  * corpus-level policies). All pure DataFrame composition: per-row work is
  * codegen'd projections, every aggregate is map-side combined, and the
  * only shuffles are on bounded domains (source, token) or the capped
  * window key.
  */
object Curation {

  /** Per-source document cap (domain capping — the C4/RefinedWeb staple
    * that stops any single domain from dominating a mixture). Keeps at most
    * `cap` documents per source, chosen by a deterministic pseudorandom
    * order: `portableH60(doc_id)` — a hash order, so the kept subset is an
    * unbiased per-source sample rather than "the earliest ids", yet fully
    * reproducible on any engine (the same md5-prefix hash DuckDB computes).
    *
    * Scale shape: ONE shuffle on `source`; the rank predicate compiles to
    * WindowGroupLimit (pinned in PlanShapeSpec), so each partition keeps a
    * bounded per-group head instead of materializing full per-source sorts.
    * Only (source, doc_id) ever shuffles — never text. */
  def domainCap(docs: DataFrame, cap: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("source"))
      .orderBy(portableH60(col("doc_id")).as("h"), col("doc_id"))
    docs.select(col("source"), col("doc_id"))
      .withColumn("keep_rank", row_number().over(w).cast("bigint"))
      .filter(col("keep_rank") <= cap)
      .orderBy(col("source"), col("keep_rank"))
  }

  /** Blocklist gate: per-source report of documents whose DISTINCT-token
    * blocklist hit ratio exceeds `maxPerMille`/1000 (the word-filter stage
    * of C4-style cleaning). The flag compares `1000·hits > maxPerMille·
    * distinct` in exact integers — no per-doc float ratio exists anywhere,
    * so the result is independent of partitioning and arrival order; the
    * single rounded division per source happens once, over exact bigint
    * sums. Per-row work (tokenize, distinct, intersect) is codegen'd; the
    * one shuffle carries ≤ |sources| partial-aggregate rows. */
  def blocklistGate(docs: DataFrame,
                    blocklist: Seq[String] = Seq("slow", "dup", "drop"),
                    maxPerMille: Int = 50): DataFrame = {
    val toks = array_distinct(tokens(col("text")))
    val staged = docs.select(col("source"),
      size(toks).cast("bigint").as("n_distinct"),
      size(array_intersect(toks, typedLit(blocklist))).cast("bigint")
        .as("n_hits"))
    staged.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hits") * 1000 > col("n_distinct") * maxPerMille,
          1L).otherwise(0L)).as("n_flagged"),
        sum(col("n_hits")).as("total_hits"),
        sum(col("n_distinct")).as("total_distinct"))
      .withColumn("hit_rate",
        when(col("total_distinct") === 0, lit(0.0)).otherwise(
          round(col("total_hits").cast("double") / col("total_distinct"),
            6)))
      .orderBy("source")
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * `KL(source ‖ corpus) = Σ_t p_t·ln(p_t/q_t)` — the drift audit that
    * flags which source's token mix least resembles the blend it feeds
    * (q_t > 0 for every token a source contains, so the sum is always
    * finite). Same single-corpus-shuffle layout as [[oovRate]]: the
    * per-(source, token) count frame is the only corpus-sized aggregate,
    * localCheckpointed so the corpus-marginal branch does not re-scan;
    * everything after is vocab-bounded, with the corpus marginals
    * broadcast back. Each KL term is truncated to DECIMAL(28,12) before
    * summation (the naive-Bayes/NDCG discipline), so the per-source sums
    * are order-independent and DuckDB reproduces them bit-exactly. */
  def sourceKL(docs: DataFrame,
               tfOpt: Option[DataFrame] = None): DataFrame = {
    // checkpointed on BOTH paths: four branches below read st, and
    // Catalyst shares no common subtrees
    val st = tfOpt
      .map(_.groupBy(col("source"), col("term").as("token"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n")))
      .pinned()
    val corpus = st.groupBy("token").agg(sum(col("n")).as("ct"))
    val total = corpus.agg(sum(col("ct")).as("n_corpus"))
    val perSource = st.groupBy("source").agg(sum(col("n")).as("n_source"))
    st.join(broadcast(corpus), Seq("token"))
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("n_source"))
      .agg(sum(
        ((col("n").cast("double") / col("n_source")) *
          log((col("n").cast("double") * col("n_corpus")) /
            // denominator in double too: Long×Long silently wraps in
            // non-ANSI Spark at ~1e9-token corpora while DuckDB's BIGINT
            // errors — double keeps both engines on the same value
            (col("n_source").cast("double") * col("ct"))))
          .cast("decimal(28,12)")).cast("double").as("kl_raw"))
      .select(col("source"), col("n_source").as("n_tokens"),
        round(col("kl_raw"), 6).as("kl_divergence"))
      .orderBy("source")
  }

  /** Luhn mod-10 audit of digit runs — the PII-plausibility screen that
    * separates card-number-shaped leaks from harmless ids: a RANDOM
    * digit run passes Luhn ~10% of the time, so a source whose long
    * digit runs validate at ~100% is leaking real card numbers while
    * ~10% is the innocent null rate. Input is any (source, text) frame;
    * the fixture audits customer names (zero-padded ids — the null
    * distribution the screen calibrates against). The per-candidate
    * checksum is a bounded HOF fold (≤ 19 integer terms over an
    * ALREADY-extracted rare candidate — not a corpus-hot path, so the
    * interpreted-lambda cost is irrelevant; the regex extraction is the
    * data-sized stage and it is codegen'd). DuckDB reproduces the fold
    * with list_transform over the same positional arithmetic.
    *
    * Scale shape: one regexp-extract scan, explode of the (rare)
    * candidates, one source-bounded aggregate. */
  /** Per-source divergence battery beyond [[sourceKL]]'s single number —
    * Jensen–Shannon, Hellinger, and total variation between each
    * source's unigram distribution p and the corpus blend q, the three
    * distances mixture audits quote because each answers a different
    * question (JS: symmetric information drift; Hellinger: geometric
    * separation, bounds TV; TV: worst-case probability mass an
    * adversarial classifier could exploit). Tokens OUTSIDE a source's
    * support still carry q mass; their JS and TV contributions reduce
    * in closed form to ln2·(1−covq) and (1−covq) where covq is the
    * corpus mass the source's vocabulary covers — so the data-sized
    * work stays on the (source, token) frame and nothing iterates the
    * full vocab × sources cross. ln 2 is a Scala literal shared with
    * the oracle. Per-term addends fold through DECIMAL.
    *
    * Scale shape: identical to sourceKL — one corpus token shuffle,
    * vocab-bounded joins with corpus marginals broadcast back. */
  def distributionDistances(docs: DataFrame,
                            tfOpt: Option[DataFrame] = None): DataFrame = {
    val st = tfOpt
      .map(_.groupBy(col("source"), col("term").as("token"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n")))
      .pinned() // corpus marginal + the joined fold both read it
    val corpus = st.groupBy("token").agg(sum(col("n")).as("ct"))
    val total = corpus.agg(sum(col("ct")).as("n_corpus"))
    val perSource = st.groupBy("source").agg(sum(col("n")).as("n_source"))
    val p = col("n").cast("double") / col("n_source").cast("double")
    val q = col("ct").cast("double") / col("n_corpus").cast("double")
    def dc(c: Column) = c.cast("decimal(28,12)")
    val ln2 = DistanceTables.ln2
    val folds = st.join(broadcast(corpus), Seq("token"))
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(total))
      .groupBy(col("source"), col("n_source"))
      .agg(
        sum(dc(sqrt(p * q))).cast("double").as("bc"),
        sum(dc(abs(p - q))).cast("double").as("tvin"),
        sum(dc(q)).cast("double").as("covq"),
        sum(dc(p * log((lit(2.0) * p) / (p + q)))).cast("double")
          .as("jsp"),
        sum(dc(q * log((lit(2.0) * q) / (p + q)))).cast("double")
          .as("jsq"))
    val js = lit(0.5) * col("jsp") +
      lit(0.5) * (col("jsq") + lit(ln2) * (lit(1.0) - col("covq")))
    val tv = lit(0.5) * (col("tvin") + (lit(1.0) - col("covq")))
    val hel = sqrt(greatest(lit(1.0) - col("bc"), lit(0.0)))
    folds.select(col("source"), col("n_source").as("n_tokens"),
      r6(js).as("js_divergence"), r6(hel).as("hellinger"),
      r6(tv).as("total_variation"), r6(col("covq")).as("coverage_q"))
      .orderBy("source")
  }

  /** Chao1 vocabulary-richness estimate per source — "how many distinct
    * terms does this source REALLY have", the species-richness number
    * that tells a curator whether a source's vocabulary is saturated
    * (chao1 ≈ observed) or still growing (chao1 ≫ observed) — the
    * capture-side complement of [[goodTuring]]'s unseen-MASS estimate.
    * Bias-corrected form V + F₁(F₁−1)/(2(F₂+1)) (Chao 1984), defined
    * even with no doubletons. Everything is exact integer counts of
    * counts; the two ratios are the report boundary.
    *
    * Scale shape: one corpus token shuffle → vocab-bounded counts →
    * source-bounded count-of-count folds. */
  def chao1(docs: DataFrame,
            tfOpt: Option[DataFrame] = None): DataFrame = {
    val st = tfOpt
      .map(_.groupBy(col("source"), col("term").as("token"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n")))
    val m = st.groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("f2"))
    val chao = col("vocab").cast("double") +
      (col("f1") * (col("f1") - 1L)).cast("double") /
        (lit(2.0) * (col("f2") + 1L).cast("double"))
    m.select(col("source"), col("n_tokens"), col("vocab"),
      col("f1"), col("f2"), r6(chao).as("chao1"),
      r6((chao - col("vocab").cast("double")) / chao).as("unseen_frac"))
      .orderBy("source")
  }

  /** Exact hypergeometric rare-term enrichment — WHICH sources
    * over-represent which rare terms, the corpus-forensics query behind
    * contamination hunts and topic audits: for every rare term (corpus
    * count ≤ 1/500 of the corpus, absolutely capped at maxCfAbs so the
    * audit scales) a source mentions at least minK times, the exact
    * upper tail P(X ≥ k) of the hypergeometric (N corpus tokens, K term
    * tokens, n_s source draws), computed term-by-term through the
    * shared [[graft.analytics.PortableGamma]] ln-choose literals so
    * DuckDB reproduces every addend. The i-sum is bounded by maxCfAbs
    * addends per candidate and candidates are rare-vocab × sources —
    * never corpus-row-scale. Top `topN` by ascending p, deterministic
    * tiebreak.
    *
    * Scale shape: one corpus token shuffle → rare-vocab-bounded
    * candidate frame → a ≤ maxCf-wide exploded sum per candidate. */
  def termEnrichment(docs: DataFrame,
                     tfOpt: Option[DataFrame] = None,
                     minCf: Long = 10L, maxCfAbs: Long = 1000L,
                     minK: Long = 3L, topN: Int = 20): DataFrame = {
    import graft.analytics.PortableGamma
    val st = tfOpt
      .map(_.groupBy(col("source"), col("term").as("token"))
        .agg(sum(col("tf")).as("k")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("k")))
      .pinned() // corpus marginal + candidates both read it
    val corpus = st.groupBy("token").agg(sum(col("k")).as("kk"))
    val total = corpus.agg(sum(col("kk")).as("n_tot"))
    val perSource = st.groupBy("source").agg(sum(col("k")).as("n_s"))
    // "rare" is RELATIVE (≤ 1/500 of the corpus) so the audit stays
    // meaningful as the corpus grows, but absolutely capped so the
    // per-candidate i-sum stays ≤ maxCfAbs addends at ANY scale
    val rare = corpus.crossJoin(broadcast(total))
      .filter(col("kk") >= minCf &&
        col("kk") <= least(lit(maxCfAbs), expr("n_tot div 500")))
      .select(col("token"), col("kk"))
    val cands = st
      .join(broadcast(rare), Seq("token"))
      .filter(col("k") >= minK)
      .join(broadcast(perSource), Seq("source"))
      .crossJoin(broadcast(total))
    def d(c: Column) = c.cast("double")
    def dz(c: Column) = c.cast("decimal(28,12)")
    // lower bound max(k, n_s − (n_tot − kk)): below it the second
    // lchoose would see n_s − i > n_tot − kk, i.e. more non-term draws
    // than non-term tokens exist — exactly-zero-probability terms whose
    // lgamma argument would go non-positive (NaN), so skip them.
    val terms = cands
      .select(col("*"),
        explode(sequence(
          greatest(col("k"), col("n_s") - (col("n_tot") - col("kk"))),
          least(col("kk"), col("n_s")))).as("i"))
    val logTerm = PortableGamma.lchoose(d(col("kk")), d(col("i"))) +
      PortableGamma.lchoose(d(col("n_tot") - col("kk")),
        d(col("n_s") - col("i"))) -
      PortableGamma.lchoose(d(col("n_tot")), d(col("n_s")))
    val p = terms.groupBy(col("source"), col("token"), col("k"),
        col("kk"), col("n_s"), col("n_tot"))
      .agg(sum(exp(logTerm).cast("decimal(28,12)")).cast("double")
        .as("p_raw"))
    p.select(col("source"), col("token"), col("k").as("k_obs"),
        col("kk").as("corpus_count"),
        r6(d(col("n_s")) * d(col("kk")) / d(col("n_tot")))
          .as("expected"),
        r6(col("p_raw")).as("p_enrich"),
        r6(-log(greatest(col("p_raw"), lit(1.0e-300))) /
          lit(PortableGamma.ln10)).as("neg_log10_p"))
      .orderBy(col("p_enrich"), col("source"), col("token"))
      .limit(topN)
  }

  def luhnAudit(rows: DataFrame,
                pattern: String = "[0-9]{8,19}"): DataFrame = {
    val cands = rows.select(col("source"),
        explode(expr(s"regexp_extract_all(text, '$pattern', 0)"))
          .as("c"))
    // Luhn: from the RIGHT, double every second digit, subtract 9 when
    // the double exceeds 9, sum; valid iff sum % 10 == 0
    val luhnSum = aggregate(
      transform(sequence(lit(1), length(col("c"))), i => {
        val d = ascii(col("c").substr(i, lit(1))) - lit(48)
        val dbl = d * 2
        val adj = when(dbl > 9, dbl - 9).otherwise(dbl)
        when((length(col("c")) - i) % 2 === 1, adj).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)
    cands.select(col("source"), (luhnSum % 10 === 0).cast("long").as("ok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("ok")).as("n_luhn_valid"))
      .withColumn("valid_rate",
        r6(col("n_luhn_valid").cast("double") /
          greatest(col("n_candidates"), lit(1L)).cast("double")))
      .orderBy("source")
  }

  /** One DoReMi-style mixture-reweighting step (Xie et al. 2023's
    * Group-DRO update, public method) over the per-source domains: the
    * excess loss of each source is its unigram KL vs the corpus blend —
    * exactly [[sourceKL]]'s statistic: KL(source‖corpus) =
    * E_{w~source}[−ln p(w|corpus)] − E_{w~source}[−ln p(w|source)], the
    * reference-vs-own-model loss gap — and the domain weights take one
    * multiplicative update w′_s ∝ w_s · exp(η · excess_s), renormalized.
    * Sources whose text the corpus blend models badly (high excess) get
    * UPWEIGHTED — DoReMi's worst-case-domain training signal. The
    * update consumes sourceKL's published 6dp-rounded KL (stated, so
    * both engines exponentiate the same literal-rounded number); the
    * normalizer folds DECIMAL over the source-bounded frame.
    *
    * Scale shape: everything data-sized is inside sourceKL (one token
    * aggregate); the update itself is a ≤|sources|-row fold. */
  def doremiStep(docs: DataFrame, eta: Double = 1.0,
                 tfOpt: Option[DataFrame] = None): DataFrame = {
    val kl = sourceKL(docs, tfOpt)
    val tot = kl.agg(sum(col("n_tokens")).as("n_total"))
    val base = kl.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        col("kl_divergence").as("excess"),
        (col("n_tokens").cast("double") / col("n_total").cast("double"))
          .as("w0"))
      .withColumn("wraw", col("w0") * exp(lit(eta) * col("excess")))
    val z = base.agg(sum(col("wraw").cast("decimal(28,12)"))
      .cast("double").as("z"))
    base.crossJoin(broadcast(z))
      .select(col("source"), col("n_tokens"),
        col("excess").as("excess_loss"),
        r6(col("w0")).as("weight_before"),
        r6(col("wraw") / col("z")).as("weight_after"))
      .orderBy("source")
  }

  /** DSIR-style hashed n-gram importance model (Data Selection via
    * Importance Resampling, Xie et al. 2023 — public method): fit two
    * bag-of-hashed-ngram distributions, one over a deterministic "target"
    * slice (`doc_id % 20 = 0`, the same held-out-slice convention
    * [[TextAnalysis.decontaminate]] uses for its eval set) and one over the
    * full raw corpus, over `buckets` hash buckets of unigram+bigram
    * features. Emits the per-bucket add-one-smoothed log probability ratio
    * λ_b = ln((t_b+1)/(T+B)) − ln((r_b+1)/(R+B)) — the importance model a
    * DSIR selection run scores every raw document against. Reference
    * analog: the corpus-level generalization of the per-record quality
    * gate (transform.py:74-75 keep/drop decisions) to distribution-level
    * selection.
    *
    * Scale shape: the gram explode is the only corpus-scale pass and it
    * aggregates straight to `buckets` rows with map-side partials (the
    * grouping key is the bucket — B rows per partition before the one
    * exchange). The model table is B rows; nothing else shuffles. Bucket
    * hashing is the repo-portable md5-prefix h60 (same value in DuckDB),
    * so the oracle reproduces bucket assignment bit-for-bit. */
  def dsirLogRatio(docs: DataFrame, buckets: Int = 128): DataFrame = {
    val counts = dsirBucketCounts(docs, buckets)
      .groupBy("bucket")
      .agg(sum(when(col("is_target"), col("c")).otherwise(0L))
          .as("target_n"),
        sum(col("c")).as("raw_n"))
    val totals = counts.agg(
      sum(col("target_n")).as("tt"), sum(col("raw_n")).as("rt"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("target_n"), col("raw_n"),
        round(
          log((col("target_n") + 1).cast("double") /
            (col("tt") + buckets).cast("double")) -
          log((col("raw_n") + 1).cast("double") /
            (col("rt") + buckets).cast("double")), 6).as("log_ratio"))
      .orderBy("bucket")
  }

  /** DSIR selection: score every NON-target document against the
    * [[dsirLogRatio]] importance model — log w(doc) = Σ_b c_b(doc)·λ_b —
    * and keep the top `k` by (rounded log-weight DESC, doc_id ASC). The
    * deterministic-rank form of the paper's Gumbel resampling: reproducible
    * on any engine, which is what a governed curation run wants from its
    * selection step anyway.
    *
    * Scale shape: per-doc bucket counts come from the same one-pass gram
    * aggregate as the model (grouping key (doc_id, bucket) — map-side
    * combined, ONE corpus-scale exchange); the B-row λ table broadcasts;
    * the per-doc score is a second keyed aggregate on doc_id that moves
    * (doc_id, partial-sum) rows only. Final top-k is a WindowGroupLimit-
    * style global head over |docs|-scale (doc_id, score) pairs — text
    * never shuffles. */
  def dsirSample(docs: DataFrame, buckets: Int = 128,
                 k: Int = 50): DataFrame = {
    val lam = dsirLogRatio(docs, buckets)
      .select(col("bucket"), col("log_ratio"))
    val scores = dsirBucketCounts(docs, buckets)
      .filter(!col("is_target"))
      .join(broadcast(lam), Seq("bucket"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_grams"),
        // score addends route through DECIMAL so the per-doc sum is
        // order-independent (the sourceKL idiom): λ is round-6 agreed
        // cross-engine, the product is one IEEE multiply of identical
        // doubles, and the decimal sum removes addition-order low bits
        round(sum((col("c").cast("double") * col("log_ratio"))
          .cast("decimal(28,12)")).cast("double"), 6).as("log_weight"))
    // orderBy+limit compiles to TakeOrderedAndProject — per-partition
    // bounded heaps merged on the driver, never a single-partition sort
    // of the |docs|-scale score frame. (log_weight, doc_id) is a total
    // order, so the cut is deterministic.
    scores.select(col("doc_id"), col("n_grams"), col("log_weight"))
      .orderBy(col("log_weight").desc, col("doc_id"))
      .limit(k)
  }

  /** Shared DSIR feature pass: per-(doc, bucket) hashed-ngram counts with
    * the target-slice flag. Unigrams ++ bigrams (the paper's feature set),
    * bucket = h60(gram) mod `buckets`. One explode, one hash aggregate —
    * map-side partials bound each task's state at |docs-per-task|×B.
    * Memoized per (session, input plan, buckets) behind a localCheckpoint:
    * [[dsirSample]] needs these rows for BOTH the model fit and the
    * per-doc scores, and the model query shares them too — without the
    * memo the corpus-scale gram explode runs three times per session. */
  private def dsirBucketCounts(docs: DataFrame, buckets: Int): DataFrame =
    graft.Shared(docs.sparkSession, s"dsir$buckets@" +
        docs.queryExecution.analyzed.semanticHash())(
      dsirBucketCountsUncached(docs, buckets).localCheckpoint())

  private def dsirBucketCountsUncached(docs: DataFrame,
                                       buckets: Int): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val toks = tokens(col("text"))
    docs.select(col("doc_id"),
        (col("doc_id") % 20 === 0).as("is_target"),
        explode(concat(toks,
          graft.plans.TextSketches.word_ngrams(toks, 2))).as("gram"))
      .select(col("doc_id"), col("is_target"),
        pmod(portableH60(col("gram")), lit(buckets.toLong)).as("bucket"))
      .groupBy(col("doc_id"), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Out-of-vocabulary rate per source against the corpus top-`vocabSize`
    * vocabulary — the tokenizer-coverage audit run before committing a
    * vocab to a training mix (sources with high OOV rates are the ones a
    * BPE vocab underserves).
    *
    * ONE corpus scan and ONE corpus-sized shuffle: tokens aggregate
    * straight to per-(source, token) counts (map-side combined to ≤
    * |sources|·|vocab| rows per partition). That bounded frame is
    * localCheckpointed — Catalyst shares no common subtrees, so both the
    * vocab branch and the rollup would otherwise re-scan the corpus. The
    * global top-V ranking then runs on the vocab-sized frame (the
    * single-partition window sorts |vocab| rows, not the corpus) and
    * broadcasts back. Ties in the vocab cut rank by (count DESC, token) —
    * deterministic on any engine. */
  def oovRate(docs: DataFrame, vocabSize: Int = 20,
              tfOpt: Option[DataFrame] = None): DataFrame = {
    val st = tfOpt
      .map(_.groupBy(col("source"), col("term").as("token"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("token"))
        .groupBy("source", "token").agg(count(lit(1)).as("n")))
      .pinned()
    val vocab = st.groupBy("token").agg(sum(col("n")).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("token"))))
      .filter(col("rk") <= vocabSize)
      .select(col("token"), lit(1L).as("in_vocab"))
    st.join(broadcast(vocab), Seq("token"), "left")
      .groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        sum(when(col("in_vocab").isNull, col("n")).otherwise(0L))
          .as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast("double") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Good–Turing unseen-mass audit per source (Gale & Sampson 1995, the
    * classic "how much vocabulary has this slice NOT seen yet" gauge used
    * when sizing a crawl or judging slice coverage — the corpus-level
    * generalization of the reference's per-run quality counters,
    * pipeline/quality.py:19-26). From the per-source term census n(s,t):
    * N1 = hapax terms, N2 = dis legomena, N = total tokens;
    * `p_unseen` = N1/N (Turing's estimate of the probability mass of
    * never-seen terms) and `p1_smoothed` = 2·N2/(N1·N) (the discounted
    * probability of any single hapax), both zero-guarded.
    *
    * Cross-engine determinism: every output double is a SINGLE division /
    * product of exact bigints (no float accumulation anywhere), so the
    * 6dp rounding cannot diverge between engines.
    *
    * Scale shape: derives from the shared doc-term matrix when provided
    * (`tfOpt` — one corpus tokenize for the whole bag-of-words family);
    * the (source, term) census aggregates with map-side partials, and the
    * frequency-of-frequencies pass reduces that census to ≤|sources| rows
    * in one more partial-combined aggregate. Nothing wider than
    * (source, term) ever shuffles — never text. */
  def goodTuring(docs: DataFrame,
                 tfOpt: Option[DataFrame] = None): DataFrame = {
    val census = tfOpt
      .map(_.groupBy(col("source"), col("term"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(col("source"),
          explode(tokens(col("text"))).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n")))
    census.groupBy("source")
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("n") === 1L, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("n") === 2L, 1L).otherwise(0L)).as("n_doubletons"))
      .withColumn("p_unseen",
        when(col("n_tokens") === 0L, lit(0.0))
          .otherwise(round(
            col("n_singletons").cast("double") / col("n_tokens"), 6)))
      .withColumn("p1_smoothed",
        when(col("n_singletons") === 0L, lit(0.0))
          .otherwise(round(lit(2.0) * col("n_doubletons") /
            (col("n_singletons").cast("double") * col("n_tokens")), 6)))
      .orderBy("source")
  }

  /** Effective sample size of the quality-weighted sampler per source —
    * the diagnostic that tells a curation run how much of each source
    * the weighting actually keeps: ESS = (Σw)²/Σw² (Kish), with the
    * same integer ppm weights the weighted sampler draws by
    * (min(1250·n_chars, 10⁶)). ESS/n near 1 means the weights are flat
    * (weighting is a no-op); near 1/n means one document dominates.
    * Integer moment sums in one map-side-collapsing aggregate; the
    * ratio is exact-input double arithmetic. */
  def essReport(docs: DataFrame): DataFrame = {
    val w = least(lit(1250L) * col("n_chars"), lit(1000000L))
    docs.select(col("source"), w.as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("sw"),
        sum(col("w") * col("w")).as("sww"))
      .select(col("source"), col("n_docs"),
        r6(col("sw").cast("double") * col("sw").cast("double") /
          col("sww").cast("double")).as("ess"),
        r6(col("sw").cast("double") * col("sw").cast("double") /
          col("sww").cast("double") / col("n_docs").cast("double"))
          .as("ess_ratio"))
      .orderBy("source")
  }

  /** Minimum-length filter tuning sweep — the [[blocklistGate]]-style
    * pricing pass for the simplest quality gate there is (drop short
    * documents): for each candidate `n_chars` cutoff, how many documents
    * survive, and what English precision/recall does the gate achieve
    * against the `lang = 'en'` labels? All cutoffs are CONDITIONAL SUMS
    * in ONE map-side-collapsing aggregate (no per-cutoff rescan, no
    * fan-out — the `q_dedup_sweep` discipline), so the sweep costs the
    * same single pass as evaluating one threshold. */
  def lengthSweep(docs: DataFrame,
                  cutoffs: Seq[Int] = Seq(50, 100, 200, 400, 800))
      : DataFrame = {
    val base = docs.select(col("n_chars"),
      (col("lang") === "en").cast("long").as("en"))
    val aggs = Seq(count(lit(1)).as("n_docs"),
      sum(col("en")).as("n_en")) ++ cutoffs.flatMap { c =>
      Seq(sum(when(col("n_chars") >= c, 1L).otherwise(0L))
        .as(s"kept_$c"),
        sum(when(col("n_chars") >= c, col("en")).otherwise(0L))
          .as(s"kept_en_$c"))
    }
    val m = base.agg(aggs.head, aggs.tail: _*)
      .pinned() // five cutoff rows re-read ONE aggregated row
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    cutoffs.map { c =>
      m.select(lit(c.toLong).as("cutoff"),
        col(s"kept_$c").as("n_kept"),
        r6(d(col(s"kept_$c")) / d(col("n_docs"))).as("share_kept"),
        r6(when(col(s"kept_$c") > 0L,
          d(col(s"kept_en_$c")) / d(col(s"kept_$c"))).otherwise(lit(0.0)))
          .as("precision_en"),
        r6(when(col("n_en") > 0L,
          d(col(s"kept_en_$c")) / d(col("n_en"))).otherwise(lit(0.0)))
          .as("recall_en"))
    }.reduce(_ unionAll _).orderBy("cutoff")
  }

  /** Neyman allocation of a labeling/sampling budget across sources:
    * n_h ∝ N_h·σ_h — strata that are big AND internally variable get
    * the labels; a small homogeneous source needs almost none. σ here
    * is the per-source population spread of document length (the
    * variance proxy a curation pass has before any labels exist). One
    * aggregate to the source frame; the proportional allocation ships
    * alongside so the report shows what Neyman changed. Allocations
    * floor-round half-up and cap at the stratum size. */
  def neymanAllocation(docs: DataFrame, budget: Int = 1000): DataFrame = {
    def dec(c: Column) = c.cast("decimal(28,12)")
    val per = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(dec(col("n_chars"))).cast("double").as("s"),
        sum(dec(col("n_chars") * col("n_chars"))).cast("double")
          .as("ss"))
      .select(col("source"), col("n_docs"),
        sqrt(greatest(col("ss") / col("n_docs") -
          (col("s") / col("n_docs")) * (col("s") / col("n_docs")),
          lit(0.0))).as("sigma"))
      .pinned()
    val tot = per.agg(
      sum(dec(col("n_docs") * col("sigma"))).cast("double").as("w_tot"),
      sum(col("n_docs")).as("n_tot"))
    def d(c: Column) = c.cast("double")
    val w = d(col("n_docs")) * col("sigma") / col("w_tot")
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), r6(col("sigma")).as("sigma"),
        r6(w).as("neyman_share"),
        least(col("n_docs"),
          floor(lit(budget.toDouble) * w + lit(0.5)).cast("bigint"))
          .as("alloc_neyman"),
        least(col("n_docs"),
          floor(lit(budget.toDouble) * d(col("n_docs")) /
            d(col("n_tot")) + lit(0.5)).cast("bigint"))
          .as("alloc_proportional"))
      .orderBy("source")
  }
}

/** Literal constants for [[Curation.distributionDistances]], shared
  * verbatim with the oracle SQL (the PeriodogramTables discipline). */
object DistanceTables {
  val ln2: Double = math.log(2.0)
}
