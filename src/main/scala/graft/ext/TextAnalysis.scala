package graft.ext

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFns._
import graft.functions.CleanFns.r6

/** Text analysis for training-data pipelines: quality scoring, language ID,
  * token counting, fingerprinting. Per-row projections only — no shuffles,
  * fully codegen'd; at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** The corpus doc-term matrix — (doc_id, lang, source, term, tf) with
    * tf = occurrence count of `term` in the document. This is THE shared
    * relation of the bag-of-words family: TF-IDF, BM25, the inverted
    * index, naive Bayes, token entropy, unigram LM scoring, Zipf fits,
    * heavy hitters, hashed features, and the per-source OOV/KL audits all
    * reduce over exactly these rows. Built by ONE tokenize + explode +
    * hash aggregate over the corpus (map-side partial counts — each task
    * emits its per-doc vocabulary, not its token stream).
    *
    * [[docTermFreq]] memoizes the built frame per (session, fixture dir)
    * behind a localCheckpoint, so in a multi-query session the corpus is
    * tokenized ONCE and every consumer starts from the materialized
    * matrix — the "tokenize once, reuse the term relation" shape a 100 TB
    * corpus store would persist as a table. Consumers that need token
    * ORDER (bigrams, BPE, chunking, span census) cannot reduce over a bag
    * and keep their own corpus passes. */
  def docTermFreqOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"), col("source"),
        explode(tokens(col("text"))).as("term"))
      .groupBy("doc_id", "lang", "source", "term")
      .agg(count(lit(1)).as("tf"))

  def docTermFreq(spark: org.apache.spark.sql.SparkSession,
                  sfDir: String): DataFrame =
    graft.Shared(spark, s"docTf@$sfDir")(
      docTermFreqOf(graft.Tables.documents(spark, sfDir)).localCheckpoint())

  /** Church–Gale term burstiness: for each term above a document-
    * frequency floor, E[tf | tf > 0] = cf/df — how hard a term clusters
    * into the documents it touches — against the Poisson expectation
    * λ/(1 − e^{−λ}) at the same corpus rate λ = cf/N. A ratio near 1 is
    * function-word behavior (spread evenly); far above 1 is topical/
    * boilerplate clumping — the per-TERM cousin of the per-DOC
    * [[repetitionRatio]], and the signal behind adaptive stopword lists
    * (Church & Gale 1995). N counts ALL corpus documents (token-less
    * docs dilute λ but cannot carry any term). Ordering is on the
    * 6dp-ROUNDED burstiness (then term) so both engines cut the same
    * top-k.
    *
    * Scale shape: rides the shared doc-term-frequency frame (one corpus
    * tokenize, memoized across the bench run); one term-keyed aggregate,
    * a broadcast one-row N, TakeOrderedAndProject for the top-k. */
  def termBurstiness(spark: org.apache.spark.sql.SparkSession,
                     sfDir: String, minDf: Long = 25L,
                     k: Int = 20): DataFrame =
    termBurstinessOf(docTermFreq(spark, sfDir),
      graft.Tables.documents(spark, sfDir).agg(count(lit(1)).as("nd")),
      minDf, k)

  /** [[termBurstiness]] over a prebuilt (doc_id, term, tf) frame and a
    * one-row corpus-size frame — the hand-traceable core. */
  private[graft] def termBurstinessOf(docTf: DataFrame, nDocs: DataFrame,
                                      minDf: Long, k: Int): DataFrame = {
    val stats = docTf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))
      .filter(col("df") >= minDf)
    val lam = col("cf").cast("double") / col("nd").cast("double")
    val burst = col("cf").cast("double") / col("df").cast("double")
    stats.crossJoin(broadcast(nDocs))
      .select(col("term"), col("df"), col("cf"),
        r6(burst).as("burstiness"),
        r6(lam / (lit(1.0) - exp(-lam))).as("poisson_expected"),
        r6(burst / (lam / (lit(1.0) - exp(-lam)))).as("burst_ratio"))
      .orderBy(col("burstiness").desc, col("term"))
      .limit(k)
  }

  /** Cross-language vocabulary overlap — per language pair, the Jaccard
    * of the two VOCABULARIES (distinct-term sets): high overlap between
    * languages that should not share words is the code-switching /
    * mislabeled-language signal a multilingual corpus audit starts from
    * (and the token-sharing number a shared-BPE tokenizer budget needs).
    * Union size is |V_a| + |V_b| − |V_a ∩ V_b| — no union materializes.
    *
    * Scale shape: rides the memoized doc-term frame; one (lang, term)
    * distinct, one term-keyed self-join producing lang-pair-bounded
    * intersection counts, one broadcast of the per-lang vocab sizes. */
  def langVocabOverlap(spark: org.apache.spark.sql.SparkSession,
                       sfDir: String): DataFrame =
    langVocabOverlapOf(docTermFreq(spark, sfDir))

  /** [[langVocabOverlap]] over a prebuilt (lang, term) frame — the
    * hand-traceable core. */
  private[graft] def langVocabOverlapOf(docTf: DataFrame): DataFrame = {
    val lt = docTf
      .select(col("lang"), col("term")).distinct()
      .pinned() // vocab sizes and the pair join both read it
    val sizes = lt.groupBy("lang").agg(count(lit(1)).as("v"))
    val inter = lt.join(lt.select(col("lang").as("lang_b"),
        col("term")), Seq("term"))
      .filter(col("lang") < col("lang_b"))
      .groupBy(col("lang").as("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_shared"))
    inter
      .join(broadcast(sizes.select(col("lang").as("lang_a"),
        col("v").as("v_a"))), Seq("lang_a"))
      .join(broadcast(sizes.select(col("lang").as("lang_b"),
        col("v").as("v_b"))), Seq("lang_b"))
      .select(col("lang_a"), col("lang_b"), col("v_a"), col("v_b"),
        col("n_shared"),
        r6(col("n_shared").cast("double") /
          (col("v_a") + col("v_b") - col("n_shared")).cast("double"))
          .as("vocab_jaccard"))
      .orderBy("lang_a", "lang_b")
  }

  /** Heaps'-law vocabulary-growth fit V = K·T^β (Heaps 1978) — the
    * corpus-scaling curve an LLM data plan extrapolates from: how fast
    * does NEW vocabulary arrive as tokens accumulate, and where does
    * collecting more of the same source stop paying. The corpus is cut
    * into `buckets` doc-id ranges (integer range arithmetic off one
    * max-id scalar — NOT a rank ntile: no data-scale window); each
    * term's FIRST bucket credits it as new vocabulary there; cumulative
    * (tokens, vocab) per bucket give the growth curve and a log-log OLS
    * over the ≤`buckets` points fits (K, β). β near 0.5 is classic
    * natural text; β falling off is the duplication/saturation signal.
    *
    * Scale shape: one corpus tokenize (rides the memoized doc-term
    * frame), one term-keyed min-bucket aggregate, then everything runs
    * on the bucket-bounded frame (windows over ≤`buckets` rows). */
  def heapsLaw(spark: org.apache.spark.sql.SparkSession, sfDir: String,
               buckets: Int = 10): DataFrame =
    heapsLawOf(docTermFreq(spark, sfDir),
      graft.Tables.documents(spark, sfDir)
        .agg(max(col("doc_id")).as("max_id")), buckets)

  /** [[heapsLaw]] over a prebuilt (doc_id, term, tf) frame and a one-row
    * max-doc-id frame — the hand-traceable core. */
  private[graft] def heapsLawOf(docTf: DataFrame, maxId: DataFrame,
                                buckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // bucket by doc-id RANGE: floor(doc_id·buckets / (max+1)) — both
    // engines evaluate the same IEEE double division (exact for ids
    // below 2^53; at larger id domains switch to integer DIV on both
    // sides), clamped so doc_id = max lands in the last bucket
    val withB = docTf.crossJoin(broadcast(maxId))
      .withColumn("bucket",
        least(floor((col("doc_id") * lit(buckets.toLong))
          / (col("max_id") + lit(1L))).cast("bigint"),
          lit(buckets.toLong - 1L)))
      .pinned() // token mass and first-bucket both read it
    val tokensPer = withB.groupBy("bucket")
      .agg(sum(col("tf")).as("n_tokens"))
    val newVocab = withB.groupBy("term")
      .agg(min(col("bucket")).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("new_terms"))
    val w = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, 0)
    val curve = tokensPer.join(newVocab, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        coalesce(col("new_terms"), lit(0L)).as("new_terms"))
      .withColumn("tokens_cum", sum(col("n_tokens")).over(w))
      .withColumn("vocab_cum", sum(col("new_terms")).over(w))
      .pinned() // ≤ buckets rows; the OLS reads it twice
    def dec(c: Column) = c.cast("decimal(28,12)")
    val lt = log(col("tokens_cum").cast("double"))
    val lv = log(col("vocab_cum").cast("double"))
    val ols = curve.agg(count(lit(1)).as("m"),
      sum(dec(lt)).cast("double").as("st"),
      sum(dec(lv)).cast("double").as("sv"),
      sum(dec(lt * lt)).cast("double").as("stt"),
      sum(dec(lt * lv)).cast("double").as("stv"))
    def d(c: Column) = c.cast("double")
    val beta = (d(col("m")) * col("stv") - col("st") * col("sv")) /
      (d(col("m")) * col("stt") - col("st") * col("st"))
    val kk = exp(col("sv") / d(col("m")) -
      ((d(col("m")) * col("stv") - col("st") * col("sv")) /
        (d(col("m")) * col("stt") - col("st") * col("st"))) *
        (col("st") / d(col("m"))))
    curve.crossJoin(broadcast(
        ols.select(r6(beta).as("heaps_beta"), r6(kk).as("heaps_k"))))
      .select(col("bucket"), col("n_tokens"), col("new_terms"),
        col("tokens_cum"), col("vocab_cum"), col("heaps_beta"),
        col("heaps_k"))
      .orderBy("bucket")
  }

  /** Stopword profiles for the n-gram/stopword-vote language heuristic.
    * Deterministic tie-break: profile order below. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "to", "a", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "es", "una", "y"))

  /** Quality metrics per document: token counts (whitespace + BPE-ish
    * regex), average token length, punctuation & stopword ratios. */
  def textStats(docs: DataFrame): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("doc_id"), col("text"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val nToks = col("__st.n_tokens") // one native tokenize pass per row
    val charLen = length(col("text")).cast("bigint")
    val punct = (length(col("text")) -
      length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("bigint")
    val stopHits = col("__st.hits_en")
    val sumTokLen = col("__st.sum_chars")
    val bpe = regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
      .cast("bigint")
    staged.select(
      col("doc_id"),
      charLen.as("n_chars"),
      nToks.as("n_tokens"),
      bpe.as("n_bpe_tokens"),
      when(nToks === 0, lit(0.0))
        .otherwise(round(sumTokLen / nToks, 4)).as("avg_token_len"),
      when(charLen === 0, lit(0.0))
        .otherwise(round(punct / charLen, 6)).as("punct_ratio"),
      when(nToks === 0, lit(0.0))
        .otherwise(round(stopHits / nToks, 4)).as("stopword_ratio"))
  }

  /** Stopword-vote language ID with deterministic profile-order tiebreak.
    * Returns (doc_id, lang (labelled), pred_lang, per-profile hit counts). */
  def langId(docs: DataFrame): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("doc_id"), col("lang"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val hitCols = LangProfiles.map { case (l, _) =>
      l -> col(s"__st.hits_$l").cast("bigint") }
    // argmax with first-profile-wins tiebreak, unrolled as a when-chain
    val maxHits = greatest(hitCols.map(_._2): _*)
    val chain = hitCols.reverse.foldLeft(lit("und")) { case (acc, (l, h)) =>
      when(h === maxHits && maxHits > 0, lit(l)).otherwise(acc)
    }
    staged.select(
      col("doc_id") +: col("lang") +: chain.as("pred_lang") +:
        hitCols.map { case (l, h) => h.as(s"${l}_hits") }: _*)
  }

  /** Normalized sha256 fingerprint per doc (exact-dedup key). */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Cross-document duplicated-span census — the relational form of
    * exact-substring dedup ("Deduplicating Training Data Makes Language
    * Models Better", Lee et al. 2022, which uses suffix arrays on one
    * machine): every w-token window (stride 1) is hashed with the
    * portable md5-h60, and a window is DUPLICATED iff its span hash
    * occurs in ≥ 2 distinct documents. Per doc: window count, duplicated
    * window count, distinct offending spans, and the duplicated fraction
    * — the signal a substring-trimming pass acts on.
    *
    * Scale shape: the window frame is |tokens|-scale rows of
    * (doc_id, 60-bit hash) — ~20 bytes per corpus token, built by the
    * native `word_ngrams` loop, never materializing pairwise anything —
    * and its two consumers cost at most one shuffle each: the census
    * collapses (h, doc) map-side before its span-hash exchange and is
    * filtered to the DUPLICATED hashes before the verdict join, so the
    * probe's build side scales with actual duplication (broadcast at
    * any sane dup rate — the window frame then never shuffles on h;
    * past broadcast size it degrades to a hash join whose window-frame
    * side re-derives from the scan — tokenize + md5 re-run at scan
    * speed, deliberately NOT checkpointed: pinning a |tokens|-scale
    * frame to executor storage is exactly what does not survive
    * 100 TB). The rollup then shuffles once on doc_id. Duplication cost
    * scales with actual duplication, not corpus². */
  def duplicatedSpans(docs: DataFrame, w: Int = 10): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val wins = docs.select(col("doc_id"),
        explode(graft.plans.TextSketches.word_ngrams(
          tokens(col("text")), w)).as("gram"))
      .select(col("doc_id"), portableH60(col("gram")).as("h"))
    // the verdict only needs the BOOLEAN "≥2 docs share this span", so
    // the census is filtered to actually-duplicated hashes BEFORE the
    // probe join: the build side shrinks from every distinct window to
    // the duplicated sliver (scales with real duplication), the left
    // join broadcasts at any sane dup rate — so the |tokens|-scale
    // window frame never shuffles on h — and past broadcast size it
    // degrades to a hash join with the same smaller build side.
    val dup = wins.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("span_docs"))
      .filter(col("span_docs") >= 2)
      .select(col("h"), lit(1L).as("is_dup"))
    wins.join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("is_dup") === 1L, 1L).otherwise(0L))
          .as("n_dup_windows"),
        count_distinct(when(col("is_dup") === 1L, col("h")))
          .as("n_dup_spans"))
      .withColumn("dup_ratio",
        r6(col("n_dup_windows").cast("double") /
          col("n_windows").cast("double")))
      .orderBy("doc_id")
  }

  /** Deterministic training-shard plan: portable-hash shard assignment
    * (h60(doc_id) mod nShards — engine-reproducible, stable under corpus
    * growth for existing docs) with per-shard document and token totals.
    * This is the "write the training set" step: the report proves the
    * hash spreads load before a 100 TB shuffle-write commits to it, and
    * the same expression IS the partition key for that write
    * (`repartition(nShards, shardExpr)`). One source-scan aggregate,
    * shard-cardinality output. */
  def shardPlan(docs: DataFrame, nShards: Int = 64): DataFrame =
    docs.select(
        pmod(portableH60(col("doc_id")), lit(nShards.toLong)).as("shard_id"),
        size(tokens(col("text"))).cast("long").as("n"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      .orderBy("shard_id")

  /** Rendezvous (highest-random-weight) resharding report: each document
    * goes to the shard with the max portable hash of (doc_id, shard);
    * adding one shard moves ONLY the docs whose new-shard hash wins —
    * ~1/(n+1) of the corpus, every move landing on the new shard. This is
    * the elastic-scaling counterpart to [[shardPlan]]'s mod-hash: mod
    * reshuffles almost everything when n changes, HRW pays the minimum.
    * The report proves that before a 100 TB re-layout commits to it.
    *
    * Per-row projection (an array_max over nShards+1 hash structs — the
    * struct comparison breaks hash ties by shard id) plus one
    * shard-cardinality groupBy; nothing else shuffles. */
  def hrwShardMove(docs: DataFrame, nShards: Int = 8): DataFrame = {
    def cands(upTo: Int) = array((0 until upTo).map(s =>
      struct(portableH60(concat_ws(":", col("doc_id"), lit(s))).as("h"),
        lit(s.toLong).as("s"))): _*)
    docs.select(
        array_max(cands(nShards)).getField("s").as("shard_before"),
        array_max(cands(nShards + 1)).getField("s").as("shard_after"))
      .groupBy(col("shard_before").as("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("shard_after") =!= col("shard_before"), 1L)
          .otherwise(0L)).as("n_moved"))
      .withColumn("pct_moved", round(col("n_moved") / col("n_docs"), 6))
      .orderBy("shard_id")
  }

  /** Materialize the temperature mixture into an actual training subset:
    * per source, take documents in deterministic doc_id order while the
    * running token total stays within the source's [[mixtureWeights]]
    * allocation. One window shuffle keyed on source (the running sum) and
    * a broadcast of the source-cardinality allocation table — the
    * selection never moves document text, only (id, source, count)
    * triples. The greedy prefix rule is deliberate: it is deterministic,
    * engine-portable, and restartable (a re-run after more docs arrive
    * keeps every previously selected doc whose prefix position survived). */
  def mixtureSample(docs: DataFrame,
                    budgetTokens: Long = 10000L): DataFrame = {
    val alloc = mixtureWeights(docs, budgetTokens)
      .select(col("source"), col("alloc_tokens"))
    val w = Window.partitionBy("source").orderBy("doc_id")
    docs.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(alloc), Seq("source"))
      .filter(col("cum") <= col("alloc_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"))
  }

  /** Temperature-based source mixing (α = 0.5, the standard
    * square-root-temperature rebalance a multi-source training mix uses to
    * lift small sources without drowning large ones): per-source token
    * counts n_s → weight √n_s / Σ√n_t → token allocation against a fixed
    * budget. √ specifically (not pow) because IEEE sqrt is correctly
    * rounded in every engine; the √ values route through DECIMAL so the
    * denominator sum is order-independent, then one double division —
    * bit-identical cross-engine. One aggregation over source-cardinality
    * rows; the one-row total broadcasts. */
  def mixtureWeights(docs: DataFrame,
                     budgetTokens: Long = 1000000L): DataFrame = {
    val perSource = docs
      .select(col("source"), size(tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum(col("n")).as("n_tokens"))
      .withColumn("w_raw",
        sqrt(col("n_tokens").cast("double")).cast("decimal(18,6)"))
    val tot = perSource.agg(sum(col("w_raw")).as("w_tot"))
    val w = col("w_raw").cast("double") / col("w_tot").cast("double")
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(w, 6).as("weight"),
        floor(w * budgetTokens + 0.5).cast("bigint").as("alloc_tokens"))
      .orderBy("source")
  }

  /** Token-repetition ratio: 1 − |distinct tokens| / |tokens| — the cheap
    * boilerplate/spam signal every training-data pipeline computes before
    * anything model-based. Pure projection, no shuffle. */
  def repetitionRatio(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val n = size(toks).cast("bigint")
    val nd = size(array_distinct(toks)).cast("bigint")
    docs.select(col("doc_id"), n.as("n_tokens"), nd.as("n_distinct"),
      when(n === 0L, lit(0.0))
        .otherwise(round(lit(1.0) - nd.cast("double") / n.cast("double"), 4))
        .as("rep_ratio"))
  }

  /** PII scrub: redact email-shaped and long-digit tokens, report counts +
    * the cleaned text's fingerprint. Patterns are deliberately RE2-safe so
    * engines agree (no backtracking constructs). Pure projection. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val LongDigitsRe = "[0-9]{7,}"
  def piiScrub(docs: DataFrame): DataFrame = {
    val withPlanted = col("text")
    val nEmail = size(regexp_extract_all(withPlanted, lit(EmailRe), lit(0)))
      .cast("bigint")
    val nDigits = size(regexp_extract_all(withPlanted, lit(LongDigitsRe),
      lit(0))).cast("bigint")
    val cleaned = regexp_replace(
      regexp_replace(withPlanted, EmailRe, "<EMAIL>"),
      LongDigitsRe, "<NUM>")
    docs.select(col("doc_id"), nEmail.as("n_emails"),
      nDigits.as("n_long_numbers"), sha2(cleaned, 256).as("clean_fp"))
  }

  /** Eval-set decontamination: flag corpus documents sharing ANY word
    * n-gram with a held-out eval set. The eval shingle set is small by
    * construction → broadcast semi-join against the exploded corpus
    * shingles; the corpus never self-joins and documents never move, only
    * (doc_id, shingle) pairs shuffle. */
  def decontaminate(docs: DataFrame, evalMod: Int = 100,
                    n: Int = 5): DataFrame = {
    // Native word_shingles (one JVM loop per row) — the HOF formulation is
    // interpreter-bound and cost ~17 s at sf0.1 on a cold JVM. The
    // localCheckpoint pins the exploded frame, which feeds BOTH the eval
    // set and the corpus side; at cluster scale this intermediate is a
    // persisted shuffle-stage output — same barrier.
    graft.plans.TextSketches.register(docs.sparkSession)
    val sh = docs.select(col("doc_id"),
      explode(graft.plans.TextSketches.word_shingles(
        tokens(col("text")), n)).as("sh"))
      .pinned()
    val evalSh = sh.filter(col("doc_id") % evalMod === 0)
      .select(col("sh")).distinct()
    val corpus = sh.filter(col("doc_id") % evalMod =!= 0)
    val hits = corpus.join(broadcast(evalSh), Seq("sh"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_ngrams"))
    docs.filter(col("doc_id") % evalMod =!= 0)
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared_ngrams"), lit(0L)).as("n_shared_ngrams"),
        (coalesce(col("n_shared_ngrams"), lit(0L)) > 0L).as("contaminated"))
  }

  /** TF-IDF top-k terms per document: tf = in-doc term count, df = number
    * of docs containing the term, score = tf · ln(N/df).
    * Shuffle shape at scale: explode → one hash aggregate on (doc, term)
    * with map-side partial counts; df via a count window PARTITIONed on
    * term (one shuffle on term, no separate vocabulary join); N rides in
    * as a broadcast 1-row aggregate so the plan stays fully lazy; the
    * final top-k window partitions back on doc_id. No driver-side counts,
    * no collect. */
  def tfidfTop(docs: DataFrame, k: Int = 3,
               tfOpt: Option[DataFrame] = None): DataFrame = {
    val wTerm = org.apache.spark.sql.expressions.Window.partitionBy("term")
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    tfOpt.map(_.select("doc_id", "term", "tf"))
      .getOrElse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
      .withColumn("df", count(lit(1)).over(wTerm))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        round(col("tf") * log(col("n_docs") / col("df")), 6))
      .withColumn("rnk", row_number().over(wDoc).cast("bigint"))
      .filter(col("rnk") <= k)
      .select("doc_id", "term", "tf", "df", "score", "rnk")
  }

  /** Sparse tf-idf cosine document pairs via an INVERTED INDEX — the
    * lexical document-similarity search that needs no embeddings and no
    * all-pairs join: per-posting weights w = (1 + ln tf)·ln(N/df),
    * L2-normalized per doc, pairs synthesized only through SHARED TERMS
    * (self-join of the posting list on term), so two documents with no
    * vocabulary overlap never meet. A df ceiling drops stopword-grade
    * terms first — the classic posting-list-length bound that keeps the
    * join linear in corpus size at any scale (df ≥ 2 is implied: df = 1
    * terms cannot form a pair). Top-k pairs by the 6dp-rounded cosine.
    *
    * Scale shape: one corpus tokenize (memoized frame), two
    * vocabulary/doc-scale aggregates (df, norms), one term-keyed
    * self-join bounded by the df ceiling, one pair aggregate with
    * DECIMAL-folded products, TakeOrderedAndProject for the cut. */
  def tfidfPairs(spark: org.apache.spark.sql.SparkSession, sfDir: String,
                 maxDf: Long = 500L, k: Int = 20): DataFrame =
    tfidfPairsOf(docTermFreq(spark, sfDir)
      .select("doc_id", "term", "tf"),
      graft.Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs")),
      maxDf, k)

  /** [[tfidfPairs]] over a prebuilt (doc_id, term, tf) frame — the
    * hand-traceable core. */
  private[graft] def tfidfPairsOf(docTf: DataFrame, nDocs: DataFrame,
                                  maxDf: Long, k: Int): DataFrame = {
    def dec(c: Column) = c.cast("decimal(28,12)")
    val dfs = docTf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2L && col("df") <= maxDf)
    val posts = docTf.join(dfs, "term")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("term"),
        ((lit(1.0) + log(col("tf").cast("double"))) *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("w"))
      .pinned() // norms and the pair join both read it
    val norms = posts.groupBy("doc_id")
      .agg(sqrt(sum(dec(col("w") * col("w"))).cast("double")).as("nrm"))
    val wn = posts.join(norms, "doc_id")
      .select(col("term"), col("doc_id"), (col("w") / col("nrm")).as("wn"))
    wn.join(wn.select(col("term"), col("doc_id").as("doc_b"),
        col("wn").as("wn_b")), Seq("term"))
      .filter(col("doc_id") < col("doc_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared_terms"),
        sum(dec(col("wn") * col("wn_b"))).cast("double").as("s"))
      .select(col("doc_a"), col("doc_b"), col("n_shared_terms"),
        r6(col("s")).as("cosine"))
      .orderBy(col("cosine").desc, col("doc_a"), col("doc_b"))
      .limit(k)
  }

  /** Composite quality gate — the keep/drop decision a training-data
    * pipeline makes from the cheap signals: token count, stopword ratio
    * (language coherence), repetition ratio (spam/boilerplate). Emits every
    * doc with its verdict and a comma-joined reason list (quarantine-style,
    * ingest.py:53-55 analog) so the drop set is auditable. Pure projection
    * over one tokenize pass. */
  def qualityGate(docs: DataFrame, minTokens: Int = 20,
      minStopRatio: Double = 0.03, maxRepRatio: Double = 0.8): DataFrame = {
    graft.plans.TokenStats.register(docs.sparkSession)
    val staged = docs.select(col("doc_id"),
      graft.plans.TokenStats.token_stats(col("text")).as("__st"))
    val n = col("__st.n_tokens")
    val nd = col("__st.n_distinct")
    val stopRatio = when(n === 0L, lit(0.0))
      .otherwise(col("__st.hits_en") / n)
    val repRatio = when(n === 0L, lit(0.0))
      .otherwise(lit(1.0) - nd.cast("double") / n.cast("double"))
    val reasons = Seq(
      "too_short" -> (n < minTokens),
      "low_stopword" -> (stopRatio < minStopRatio),
      "repetitive" -> (repRatio > maxRepRatio))
    val reason = concat_ws(",",
      reasons.map { case (name, cond) =>
        when(cond, lit(name)).otherwise(lit(null))
      }: _*)
    staged.select(col("doc_id"), n.as("n_tokens"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(repRatio, 4).as("rep_ratio"),
      not(reasons.map(_._2).reduce(_ || _)).as("keep"),
      reason.as("reason"))
  }

  /** Curriculum schedule: quantile-stage the corpus by the (rounded)
    * stopword-ratio quality proxy — stage 1 = cleanest — and report each
    * stage's doc count, token budget, and mean quality. The ntile window
    * sorts the per-DOC score frame (already one row per doc), not text;
    * at larger scale the stage boundaries would come from approx
    * percentiles, same note as the RFM quintiles. */
  def curriculumSchedule(docs: DataFrame, stages: Int = 4): DataFrame = {
    val scored = qualityGate(docs)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"))
    scored.withColumn("stage", ntile(stages).over(
        Window.orderBy(col("stopword_ratio").desc, col("doc_id")))
        .cast("bigint"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("stopword_ratio").cast("decimal(28,6)"))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_quality"))
      .orderBy("stage")
  }

  /** The 100 TB shape of [[curriculumSchedule]] (same pattern as
    * rfmSegmentsScale): stage BOUNDARIES from `percentile_approx` over the
    * per-doc quality score — a mergeable sketch aggregate with map-side
    * partials, broadcast back as one row — and stages assigned map-side by
    * counting boundaries exceeded, so NO single-partition ntile sort ever
    * ranks the corpus. Stage 1 stays the cleanest quartile: the ascending
    * boundary count inverts (stages − Σ(v > bᵢ)), mirroring the exact
    * form's DESC ntile. Semantic delta, by design: equal scores share a
    * stage (a boundary cut cannot split ties), so stage sizes are only
    * approximately n/stages. Default accuracy is sketch-grade 10⁴
    * (O(min(n, accuracy)) samples per partial); the verify/bench entry
    * passes the exact-at-fixture 10⁷ because the oracle reproduces the
    * sketch's rank-ceil(p·n) boundary with an explicit row_number rank. */
  def curriculumScheduleScale(docs: DataFrame, stages: Int = 4,
                              accuracy: Int = 10000): DataFrame = {
    // the per-doc score frame feeds BOTH the boundary sketch and the
    // staging pass — localCheckpoint so the tokenize pass runs once
    val scored = qualityGate(docs)
      .select(col("doc_id"), col("n_tokens"), col("stopword_ratio"))
      .pinned()
    val ps = array((1 until stages).map(i => lit(i.toDouble / stages)): _*)
    val bounds = scored.agg(
      percentile_approx(col("stopword_ratio"), ps, lit(accuracy)).as("qb"))
    val above = (0 until stages - 1)
      .map(i => (col("stopword_ratio") > col("qb")(i)).cast("int"))
      .reduce(_ + _)
    scored.crossJoin(broadcast(bounds))
      .withColumn("stage", (lit(stages) - above).cast("bigint"))
      .groupBy("stage")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("stopword_ratio").cast("decimal(28,6)"))
          .cast("double") / count(lit(1)).cast("double"), 6)
          .as("mean_quality"))
      .orderBy("stage")
  }

  /** End-to-end corpus curation — the composition a training-data pipeline
    * actually ships, over the ops defined above: composite quality gate →
    * exact dedup (keep one doc per normalized fingerprint) → eval-set
    * decontamination → deterministic stratified sample by language.
    * Every stage reduces to a LEFT SEMI join against a doc_id set, so the
    * documents table streams through once and only id columns shuffle;
    * the sample is the portable-hash filter (no shuffle at all). Returns
    * the surviving (doc_id, lang, source) rows. */
  def curationPipeline(docs: DataFrame, evalMod: Int = 100,
      ratesPerMille: Map[String, Int] = Map("en" -> 1000),
      defaultPerMille: Int = 500): DataFrame = {
    // Each stage's keep-set is one bigint column ≤ |docs| — pin them with
    // localCheckpoint so the optimizer cannot merge the three stage plans
    // into the semi-join tree (measured: the merged plan re-inlines the
    // tokenize/shingle expressions across stages, ~9× slower). At cluster
    // scale these intermediate id-sets would be persisted tables between
    // pipeline stages, which is the same barrier.
    val quality = qualityGate(docs).filter(col("keep")).select("doc_id")
      .pinned()
    val keepers = DedupExt.exactDedup(docs)
      .select(col("keeper_doc_id").as("doc_id")).pinned()
    val clean = decontaminate(docs, evalMod).filter(!col("contaminated"))
      .select("doc_id").pinned()
    val kept = docs.select("doc_id", "lang", "source")
      .join(quality, Seq("doc_id"), "left_semi")
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(clean, Seq("doc_id"), "left_semi")
    graft.operators.Sampling.stratifiedSample(kept, col("lang"),
      col("doc_id"), ratesPerMille, defaultPerMille)
  }

  /** Corpus-wide heavy hitters: exact top-k tokens by frequency. Shape at
    * scale: explode → hash-aggregate with map-side partial counts (each
    * partition emits ≤ |vocab| rows, not |tokens|), then TakeOrdered for
    * the top-k — the driver sees k rows. For vocabularies too large even
    * for partial maps, swap the exact count for count-min sketch +
    * candidate re-count; the fixture vocabulary is small, so exact is both
    * the oracle and the right plan. */
  def heavyHitters(docs: DataFrame, k: Int = 20,
                   tfOpt: Option[DataFrame] = None): DataFrame =
    tfOpt.map(_.groupBy(col("term").as("token"))
        .agg(sum(col("tf")).as("n")))
      .getOrElse(docs.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n")))
      .orderBy(col("n").desc, col("token"))
      .limit(k)

  /** Per-document corpus-likelihood score: the mean natural log of each
    * token's corpus unigram probability (the cheap "LM perplexity" proxy
    * used for quality filtering before a real model scores the data). Two
    * stages: (1) the corpus term-frequency table — explode + hash-aggregate
    * with map-side partials, output is VOCAB-sized; (2) re-join tokens to
    * that frequency table. Because the frequency side is vocab-sized,
    * Catalyst broadcasts it and stage 2 is map-side — the raw corpus never
    * shuffles, which is the property that matters at 100 TB. */
  def unigramLogprob(docs: DataFrame,
                     tfOpt: Option[DataFrame] = None): DataFrame = {
    // tf-weighted form of the per-occurrence mean: Σ tf·ln p / Σ tf —
    // reduces over the doc-term bag, so the shared matrix serves it and
    // the corpus-scale occurrence stream never re-materializes
    val tf = tfOpt.map(_.select("doc_id", "term", "tf"))
      .getOrElse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val freq = tf.groupBy("term").agg(sum(col("tf")).as("n"))
    val total = freq.agg(sum(col("n")).cast("double").as("total"))
    tf.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        round(sum(col("tf").cast("double") * log(col("n") / col("total")))
          / sum(col("tf").cast("double")), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** Deterministic greedy sequence packing: assign documents, in doc_id
    * order WITHIN each source, to fixed-token-budget packs (the training
    * shard/sequence-packing step). `pack_id` = exclusive running token
    * count ÷ budget, so a document straddling a boundary belongs to the
    * pack it STARTED in (first-fit-in-order with overflow — the standard
    * deterministic packer). The running sum is windowed PER SOURCE, so the
    * plan is one shuffle on `source` and each partition packs
    * independently — no global ordering bottleneck at 100 TB (a corpus-
    * global pack order would serialize into a single partition; per-source
    * is what a real sharded pipeline does). */
  def tokenPacking(docs: DataFrame, budgetTokens: Int = 1000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("bigint").as("n_tokens"))
      .withColumn("pack_id",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) /
          budgetTokens).cast("bigint"))
  }

  /** Asymmetric n-gram containment |A∩B| / |A| against a sampled anchor
    * set — catches SUBSET duplication (a doc wholly contained in a larger
    * one) that symmetric Jaccard under-scores: a 100-token doc pasted into
    * a 10k-token doc has Jaccard ≈ 0.01 but containment ≈ 1.0. Same
    * broadcast-anchor shape as `DedupExt.jaccardPairs`: the corpus never
    * shuffles, the anchor shingle sets ship to every task. */
  def containmentPairs(docs: DataFrame, anchorMod: Int = 97,
                       n: Int = 3): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val sh = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        graft.plans.TextSketches.word_shingles(col("toks"), n).as("sh"))
    val anchors = sh.filter(col("doc_id") % anchorMod === 0)
      .select(col("doc_id").as("doc_id_a"), col("lang"),
        col("sh").as("sh_a"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
      .cast("double")
    sh.select(col("doc_id").as("doc_id_b"), col("lang"),
        col("sh").as("sh_b"))
      .join(broadcast(anchors), Seq("lang"))
      .filter(col("doc_id_a") < col("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        when(size(col("sh_a")) === 0, lit(0.0))
          .otherwise(round(inter / size(col("sh_a")).cast("double"), 6))
          .as("containment"))
  }

  /** Per-document mean bigram log-probability under an add-one-smoothed
    * corpus bigram LM — the next step up from `unigramLogprob` as a
    * fluency/quality proxy (word salad scores low even when its unigrams
    * are common). Three aggregates, all over CORPUS-SHAPED intermediates:
    * bigram counts (vocab²-bounded, in practice corpus-sparse), prefix
    * totals derived FROM the bigram table (not a second corpus pass), and
    * the vocabulary size. The per-doc rejoin is on bigram text; the raw
    * corpus shuffles once (the explode→count), everything else joins
    * count tables. P(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V). */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val grams = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(graft.plans.TextSketches.word_ngrams(col("toks"), 2))
          .as("bigram"))
    val bigramCounts = grams.groupBy("bigram")
      .agg(count(lit(1)).as("c_bigram"))
      .withColumn("prefix", substring_index(col("bigram"), " ", 1))
    val prefixCounts = bigramCounts.groupBy(col("prefix").as("p2"))
      .agg(sum(col("c_bigram")).as("c_prefix"))
    val vocab = docs
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    grams.join(bigramCounts, "bigram")
      .join(prefixCounts, col("prefix") === col("p2"))
      .crossJoin(broadcast(vocab))
      .groupBy("doc_id")
      // decimal-summed addends (the playbook rule for sums feeding a
      // rounded hashed double): the float avg() it replaces depended on
      // partition arrival order in the last ulp
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(log((col("c_bigram") + lit(1.0)) /
            (col("c_prefix") + col("v"))).cast("decimal(28,12)"))
          .cast("double") / count(lit(1)), 6).as("avg_bigram_logprob"))
      .orderBy("doc_id")
  }

  /** Gopher-style n-gram repetition filters (Rae et al. 2021 §A1.1):
    * per document and n ∈ {2, 3}, the duplicate-n-gram fraction
    * (1 − |distinct|/|total|) and the top-n-gram share (most frequent
    * n-gram's count over total) — the repetition gates that catch
    * keyword-stuffed and template/boilerplate pages [[repetitionRatio]]'s
    * unigram form misses. Fractions are over n-gram COUNTS (the paper's
    * character-mass variant is a weighting refinement on the same
    * census); thresholds are the fixed literals in `GopherThresholds`.
    * Documents with fewer than n tokens have no n-gram census row (no
    * defined ratio) — the row set is docs × {n with ≥1 gram}.
    *
    * Scale shape: native word_ngrams (JVM loop, multiplicity-preserving)
    * → one (doc, gram) count shuffle → one doc-keyed aggregate. Both
    * aggregates map-side combine; nothing leaves doc granularity. */
  def gopherRepetition(docs: DataFrame): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val arms = GopherThresholds.map { case (n, (thrDup, thrTop)) =>
      val census = docs
        .select(col("doc_id"),
          explode(graft.plans.TextSketches.word_ngrams(
            tokens(col("text")), n)).as("g"))
        .groupBy(col("doc_id"), col("g"))
        .agg(count(lit(1)).as("c"))
      // keep compares the UNROUNDED ratios (bit-identical in both
      // engines: same integer inputs, same IEEE ops); the reported
      // columns are their floor-rounded views
      val dupFrac = lit(1.0) - col("n_distinct").cast("double") /
        col("n_grams").cast("double")
      val topShare = col("top_c").cast("double") /
        col("n_grams").cast("double")
      census.groupBy("doc_id")
        .agg(sum(col("c")).as("n_grams"),
          count(lit(1)).as("n_distinct"), max(col("c")).as("top_c"))
        .select(col("doc_id"), lit(n.toLong).as("n"), col("n_grams"),
          r6(dupFrac).as("dup_frac"), r6(topShare).as("top_share"),
          (dupFrac <= lit(thrDup) && topShare <= lit(thrTop))
            .cast("int").as("keep"))
    }
    arms.reduce(_ unionAll _).orderBy("doc_id", "n")
  }

  /** The q_gopher_repetition gate contract: n → (max duplicate-n-gram
    * fraction, max top-n-gram share). Fixed literals — the thresholds
    * ARE the filter's schema, like [[graft.SparkEntry.KeyDiscoveryCombos]]. */
  val GopherThresholds: Seq[(Int, (Double, Double))] =
    Seq(2 -> (0.20, 0.20), 3 -> (0.18, 0.18))

  /** Interpolated Kneser–Ney bigram perplexity on a held-out slice —
    * the LM-quality scorer real corpus pipelines (CCNet, Gopher) use
    * where [[bigramLogprob]] uses add-one smoothing: KN discounts every
    * seen bigram by a fixed D and redistributes the withheld mass over a
    * CONTINUATION unigram (how many distinct contexts a word completes,
    * not how often it occurs) — the fix for add-one's over-penalizing of
    * frequent-but-context-narrow words (Kneser & Ney 1995; Chen &
    * Goodman 1999):
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁)
    *              + D · N₁₊(w₁·)/c(w₁) · N₁₊(·w₂)/N₁₊(··)
    * Train/eval split is the decontaminate convention (doc_id % 10 = 9
    * is held out). Eval bigrams whose HEAD never appears in training are
    * skipped and counted (no defined KN estimate); an unseen-continuation
    * tail floors the density at 1e-12 so the logprob stays finite.
    * Perplexity = exp(−avg logprob), computed from the UNROUNDED mean.
    *
    * Cross-engine determinism: all counts are exact integers; per-bigram
    * log terms fold through DECIMAL; one double division and one exp at
    * the report boundary, floor-rounded.
    *
    * Scale shape: two corpus passes (train grams, eval grams — native
    * word_ngrams loops, no interpreted HOFs), then hash joins of the
    * eval stream against three vocabulary-scale count frames; the output
    * is one row. At 100 TB the count frames are the textbook distributed
    * LM-count artifacts — nothing is collected, nothing all-pairs. */
  def kneserNey(docs: DataFrame, evalMod: Int = 10,
                discount: Double = 0.75): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    def grams(df: DataFrame) = df
      .select(explode(graft.plans.TextSketches.word_ngrams(
        tokens(col("text")), 2)).as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val isEval = col("doc_id") % evalMod === (evalMod - 1)
    val bc = grams(docs.filter(!isEval))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .pinned() // heads, continuations, and B all read it
    val heads = bc.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_head"))
    val cont = bc.groupBy(col("w2").as("cw2"))
      .agg(count(lit(1)).as("n1p_cont"))
    val big = bc.agg(count(lit(1)).cast("double").as("bb"))
    val scored = grams(docs.filter(isEval))
      .join(heads, Seq("w1"), "left")
      .join(bc.select(col("w1").as("bw1"), col("w2").as("bw2"),
          col("c12")),
        col("w1") === col("bw1") && col("w2") === col("bw2"), "left")
      .join(cont, col("w2") === col("cw2"), "left")
      .crossJoin(broadcast(big))
    val p = greatest(coalesce(col("c12"), lit(0L)).cast("double") -
        lit(discount), lit(0.0)) / col("c1").cast("double") +
      lit(discount) * col("n1p_head").cast("double") /
        col("c1").cast("double") *
        (coalesce(col("n1p_cont"), lit(0L)).cast("double") / col("bb"))
    val agg = scored.agg(count(lit(1)).as("n_eval_bigrams"),
      sum(when(col("c1").isNotNull, 1L).otherwise(0L)).as("n_scored"),
      sum(when(col("c1").isNotNull,
          log(greatest(p, lit(1.0e-12))).cast("decimal(28,12)"))
        .otherwise(lit(null).cast("decimal(28,12)"))).as("slp"))
    val avg = col("slp").cast("double") / col("n_scored").cast("double")
    agg.select(col("n_eval_bigrams"), col("n_scored"),
      (col("n_eval_bigrams") - col("n_scored")).as("n_skipped"),
      r6(avg).as("avg_logprob"),
      r6(exp(-avg)).as("perplexity"))
  }

  /** Jelinek–Mercer (deleted-interpolation) bigram perplexity on the
    * same held-out slice as [[kneserNey]] — the third smoothing of the
    * LM-quality triplet (add-one in [[bigramLogprob]], absolute
    * discounting in KN): P(w₂|w₁) = λ·c(w₁w₂)/c(w₁) + (1−λ)·c(w₂)/N,
    * λ = 0.7 (Jelinek & Mercer 1980; Chen & Goodman 1999 find this the
    * robust non-KN baseline). Unlike KN, NOTHING is skipped: an unseen
    * head simply drops the conditional term and backs all the way off
    * to the train unigram, and a fully-unseen word floors the density
    * at 1e-12 — so n_scored ≡ n_eval_bigrams and the perplexity is an
    * honest whole-slice number. Counts are exact integers; per-bigram
    * log terms fold through DECIMAL; one division + exp at the report
    * boundary.
    *
    * Scale shape: identical to KN — two corpus gram passes, hash joins
    * of the eval stream against vocabulary-scale count frames, one
    * output row. */
  def jelinekMercer(docs: DataFrame, evalMod: Int = 10,
                    lambda: Double = 0.7): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    def grams(df: DataFrame) = df
      .select(explode(graft.plans.TextSketches.word_ngrams(
        tokens(col("text")), 2)).as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val isEval = col("doc_id") % evalMod === (evalMod - 1)
    val train = docs.filter(!isEval)
    val bc = grams(train)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .pinned() // heads and the bigram join both read it
    val heads = bc.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val uni = train
      .select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
    val totU = uni.agg(sum(col("cu")).as("nu"))
    val scored = grams(docs.filter(isEval))
      .join(heads, Seq("w1"), "left")
      .join(bc.select(col("w1").as("bw1"), col("w2").as("bw2"),
          col("c12")),
        col("w1") === col("bw1") && col("w2") === col("bw2"), "left")
      .join(uni.select(col("w").as("uw"), col("cu")),
        col("w2") === col("uw"), "left")
      .crossJoin(broadcast(totU))
    val pCond = when(col("c1").isNotNull,
      coalesce(col("c12"), lit(0L)).cast("double") /
        greatest(col("c1"), lit(1L)).cast("double"))
      .otherwise(lit(0.0))
    val pUni = coalesce(col("cu"), lit(0L)).cast("double") /
      greatest(col("nu"), lit(1L)).cast("double")
    val p = lit(lambda) * pCond + lit(1.0 - lambda) * pUni
    val agg = scored.agg(count(lit(1)).as("n_eval_bigrams"),
      sum(when(col("c1").isNull, 1L).otherwise(0L))
        .as("n_unseen_heads"),
      sum(log(greatest(p, lit(1.0e-12))).cast("decimal(28,12)"))
        .as("slp"))
    val avg = col("slp").cast("double") /
      greatest(col("n_eval_bigrams"), lit(1L)).cast("double")
    val ok = col("n_eval_bigrams") > 0L
    agg.select(col("n_eval_bigrams"), col("n_unseen_heads"),
      lit(lambda).as("lambda"),
      r6(when(ok, avg).otherwise(lit(0.0))).as("avg_logprob"),
      r6(when(ok, exp(-avg)).otherwise(lit(0.0))).as("perplexity"))
  }

  /** Per-source character-level entropy rate — the compression-ratio
    * proxy curation uses to flag templated/boilerplate sources without
    * running a compressor: H₁ (char unigram entropy), H₂ (char bigram
    * entropy), the conditional entropy H₂−H₁ ("bits per next char"),
    * and redundancy 1 − (H₂−H₁)/ln|Σ| against the source's own measured
    * alphabet. Low conditional entropy = the next character is nearly
    * determined = generated/templated text. Uses the identity
    * H = ln N − Σc·ln c / N so each arm is counts + one fold (no
    * probability join); grams come from the native [[graft.plans
    * .TextSketches.CharNgrams]] loop (the corpus-hot explode must not
    * be an interpreted HOF — the WordShingles rule at char granularity).
    *
    * Scale shape: two corpus gram shuffles keyed (source, gram) with
    * map-side combine, then alphabet²-bounded folds. */
  def charEntropy(docs: DataFrame): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    def dc(c: Column) = c.cast("decimal(28,12)")
    def armFold(n: Int, pre: String): DataFrame =
      docs.filter(col("text").isNotNull)
        .select(col("source"),
          explode(graft.plans.TextSketches.char_ngrams(col("text"), n))
            .as("g"))
        .groupBy("source", "g").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as(s"${pre}_n"),
          count(lit(1)).as(s"${pre}_v"),
          sum(dc(col("c").cast("double") *
            log(col("c").cast("double")))).cast("double").as(s"${pre}_sc"))
    def h(pre: String): Column =
      log(greatest(col(s"${pre}_n"), lit(1L)).cast("double")) -
        col(s"${pre}_sc") /
          greatest(col(s"${pre}_n"), lit(1L)).cast("double")
    val j = armFold(1, "u").join(armFold(2, "b"), Seq("source"))
    val cond = h("b") - h("u")
    val lnAlpha = log(greatest(col("u_v"), lit(1L)).cast("double"))
    val ok = col("u_v") > 1L
    j.select(col("source"), col("u_n").as("n_chars"),
      col("u_v").as("alphabet"), col("b_n").as("n_bigrams"),
      r6(h("u")).as("h_unigram"), r6(h("b")).as("h_bigram"),
      r6(cond).as("cond_entropy"),
      r6(when(ok, lit(1.0) - cond / lnAlpha).otherwise(lit(0.0)))
        .as("redundancy"))
      .orderBy("source")
  }

  /** Memo for the per-doc bigram-LM score frame: `q_bigram_logprob` and
    * `q_ccnet_buckets` both need it in one Bench run — same sharing
    * policy (and key shape) as [[docTermFreq]], localCheckpointed so the
    * second consumer reads doc-sized scores shuffle-free. */
  def bigramLogprobCached(spark: org.apache.spark.sql.SparkSession,
                          sfDir: String): DataFrame =
    graft.Shared(spark, s"bigramLp@$sfDir")(
      bigramLogprob(graft.Tables.documents(spark, sfDir)).localCheckpoint())

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): per
    * language, rank documents by LM fluency — the add-one bigram mean
    * logprob, taken at the SAME 6dp rounding boundary its report query
    * ships, so the ranking key is a proven engine-stable value — and cut
    * exact terciles head/middle/tail: the crawl-filtering staple that
    * keeps the head, inspects the middle, drops the tail. Bucket index
    * is exact integer arithmetic (⌊3·(rank−1)/n⌋), ties by doc_id;
    * sub-window documents (< 2 tokens, no bigram score) are excluded in
    * every engine by construction. Per-bucket mean logprob accumulates
    * DECIMAL-cast rounded scores — order-independent addition.
    *
    * Scale shape: scores ride the shared bigram-LM frame (one corpus
    * bigram shuffle for both consumers); the exact per-lang rank window
    * is the oracle form — at 100 TB the tercile cut swaps to
    * approx_percentile stage boundaries exactly like the curriculum
    * scale sibling (PLANS scale-sibling program), with nothing
    * downstream changing. */
  def ccnetBuckets(docs: DataFrame,
                   scoresOpt: Option[DataFrame] = None): DataFrame = {
    val scored = scoresOpt.getOrElse(bigramLogprob(docs))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val rkW = Window.partitionBy("lang")
      .orderBy(col("avg_bigram_logprob").desc, col("doc_id"))
    scored
      .withColumn("rk", row_number().over(rkW))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("bucket_i", expr("CAST(((rk - 1) * 3) DIV n AS INT)"))
      .groupBy(col("lang"), col("bucket_i"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("avg_bigram_logprob").cast("decimal(28,12)"))
          .cast("double") / count(lit(1)), 6).as("mean_logprob"))
      .select(col("lang"),
        element_at(typedLit(Seq("head", "middle", "tail")),
          col("bucket_i") + 1).as("bucket"),
        col("n_docs"), col("mean_logprob"))
      .orderBy("lang", "bucket")
  }

  /** Scale sibling of [[ccnetBuckets]] (the PLANS.md scale-sibling
    * program, same recipe as curriculumScheduleScale): tercile
    * boundaries come from a per-lang `percentile_approx` sketch
    * (mergeable map-side partials) instead of a per-lang row_number over
    * every document, so NO data-scale window exists in the plan
    * (Round17OpsSpec pins it). Buckets assign by boundary comparison —
    * on score ties the cut can reshape bucket sizes versus the exact
    * rank form, but never drops or double-counts a document (the spec's
    * doc-mass invariant). Exact at the fixture (accuracy ≥ n); pass the
    * memory-budget accuracy at real scale. */
  def ccnetBucketsScale(docs: DataFrame,
                        scoresOpt: Option[DataFrame] = None,
                        accuracy: Int = 1000000): DataFrame = {
    val scored = scoresOpt.getOrElse(bigramLogprob(docs))
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val bounds = scored.groupBy("lang")
      .agg(percentile_approx(col("avg_bigram_logprob"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("sb"))
    scored.join(broadcast(bounds), "lang")
      .withColumn("bucket_i",
        when(col("avg_bigram_logprob") > col("sb")(1), 0)
          .when(col("avg_bigram_logprob") > col("sb")(0), 1)
          .otherwise(2))
      .groupBy(col("lang"), col("bucket_i"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("avg_bigram_logprob").cast("decimal(28,12)"))
          .cast("double") / count(lit(1)), 6).as("mean_logprob"))
      .select(col("lang"),
        element_at(typedLit(Seq("head", "middle", "tail")),
          col("bucket_i") + 1).as("bucket"),
        col("n_docs"), col("mean_logprob"))
      .orderBy("lang", "bucket")
  }

  /** Per-document token Shannon entropy — the information-density quality
    * signal (spam that repeats one phrase scores near 0 bits; varied prose
    * scores high) complementing the repetition RATIO, which cannot tell
    * "one token repeated" from "two tokens alternating". Two aggregates,
    * both keyed by doc: (doc, token) counts, then the entropy fold — the
    * shuffle key is doc_id throughout, so the second aggregate is
    * partition-local after the first. */
  def tokenEntropy(docs: DataFrame,
                   tfOpt: Option[DataFrame] = None): DataFrame = {
    val perTok = tfOpt
      .map(_.select(col("doc_id"), col("term").as("tok"),
        col("tf").as("c")))
      .getOrElse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("c")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    perTok
      .withColumn("n", sum(col("c")).over(w))
      .groupBy("doc_id")
      .agg(first(col("n")).as("n_tokens"),
        round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6)
          .as("entropy"))
      .orderBy("doc_id")
  }

  /** Pointwise mutual information for corpus bigrams above a support
    * floor — the collocation-mining step ("new york" scores high, "of
    * the" low). PMI = ln(p(w1,w2) / (p(w1)·p(w2))) with bigram and
    * unigram probabilities from their own exact count tables. Every
    * aggregate output is vocabulary-sized, so both unigram joins
    * broadcast; the support floor (`minPair`) bounds the result
    * deterministically — the ORDER BY is the bigram text, never the
    * floating PMI, so the cross-engine row set is exact. */
  def bigramPmi(docs: DataFrame, minPair: Long = 20L): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val grams = docs
      .select(tokens(col("text")).as("toks"))
      .select(explode(graft.plans.TextSketches.word_ngrams(col("toks"), 2))
        .as("bigram"))
    val unigrams = docs.select(explode(tokens(col("text"))).as("tok"))
    val uc = unigrams.groupBy("tok").agg(count(lit(1)).as("cu"))
    val nu = unigrams.agg(count(lit(1)).cast("double").as("nu"))
    val bc = grams.groupBy("bigram").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minPair)
    val nb = grams.agg(count(lit(1)).cast("double").as("nb"))
    bc
      .join(broadcast(uc.withColumnRenamed("tok", "w1")
        .withColumnRenamed("cu", "cu1")),
        substring_index(col("bigram"), " ", 1) === col("w1"))
      .join(broadcast(uc.withColumnRenamed("tok", "w2")
        .withColumnRenamed("cu", "cu2")),
        substring_index(col("bigram"), " ", -1) === col("w2"))
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nu))
      .select(col("bigram"), col("c12").as("n_pair"),
        round(log((col("c12") / col("nb")) /
          ((col("cu1") / col("nu")) * (col("cu2") / col("nu")))), 6)
          .as("pmi"))
      .orderBy("bigram")
  }

  /** Corpus-wide repeated-chunk (boilerplate) detection — the C4-style
    * "deduplicate repeated paragraphs across the corpus" step, expressed on
    * fixed-size token chunks since the fixture text has no line structure.
    * Chunk assembly is a per-row projection (slice over the token array —
    * no shuffle); the spread count groups chunks by their TEXT with
    * map-side partials, and the per-doc rollup re-joins on chunk text. At
    * 100 TB, group on a 60-bit chunk hash instead of raw text to shrink
    * shuffle payloads (same trick as exact-dedup's fingerprint groupBy);
    * raw text keeps the fixture oracle byte-exact. */
  /** BM25 ranking of the corpus against a fixed query-term set (the
    * retrieval scorer behind training-data quality filters and RAG index
    * audits). Three aggregates, all tiny after map-side partials:
    * corpus stats (one row, broadcast), per-term document frequency
    * (|terms| rows, broadcast), per-(doc,term) tf — only rows containing a
    * query term survive the `isin` pushdown, so the big explode is
    * filtered BEFORE the shuffle. Final top-k is TakeOrderedAndProject.
    * Natural log and double division are IEEE-identical across engines;
    * the score is rounded to 6dp on both sides. */
  def bm25(docs: DataFrame,
           terms: Seq[String] = Seq("table", "join", "spark"),
           k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 20): DataFrame = {
    // NOT a doc-term-matrix consumer by design: the isin filter prunes
    // the occurrence stream BEFORE any aggregate, so the whole tf build
    // is one narrow filtered pass — measured ~2× faster than deriving
    // dl + query-term rows from the shared matrix (that form pays a
    // per-doc dl aggregate plus a doc_id join the filter-first plan
    // never needs).
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        col("__toks"))
    val stats = toks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = toks
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) /
      (col("df") + lit(0.5)) + lit(1.0))
    val termScore = idf * col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) +
        lit(b) * col("dl") / col("avgdl")))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      .agg(round(sum(termScore), 6).as("bm25"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  /** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty
    * 2001) — the language-modeling scorer beside [[bm25]]'s
    * probabilistic one: score(q, d) = Σ_{w∈q} ln((tf_{w,d} + μ·p(w|C))
    * / (dl_d + μ)), where p(w|C) is the collection unigram model. The
    * smoothing term matters precisely when tf = 0, so every document
    * scores every collection-present query term (docs × |q| rows — a
    * bounded fan-out, not a join explosion); query terms absent from
    * the whole collection carry no mass under Dirichlet smoothing and
    * are dropped (stated — the standard convention). Per-term logs are
    * IEEE-identical across engines; the per-doc sum folds DECIMAL.
    *
    * Scale shape: one filtered occurrence pass for tf (the bm25
    * filter-first discipline), one token-count pass for dl and the
    * collection model, a broadcast of the |q|-row model, one doc-keyed
    * aggregate, TakeOrdered top-k. */
  def dirichletQL(docs: DataFrame,
                  terms: Seq[String] = Seq("table", "join", "spark"),
                  mu: Double = 2000.0, topK: Int = 20): DataFrame = {
    val toks = docs.select(col("doc_id"), tokens(col("text")).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).cast("double").as("dl"),
        col("__toks"))
    val totals = toks.agg(sum(col("dl").cast("decimal(28,6)"))
      .cast("double").as("total_tokens"))
    val occ = toks
      .select(col("doc_id"), col("dl"), explode(col("__toks")).as("term"))
      .filter(col("term").isin(terms: _*))
    val ctf = occ.groupBy("term")
      .agg(count(lit(1)).cast("double").as("ctf"))
    val tf = occ.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val termScore = log((coalesce(col("tf"), lit(0.0)) +
      lit(mu) * col("ctf") / col("total_tokens")) /
      (col("dl") + lit(mu)))
    toks.select(col("doc_id"), col("dl"))
      .crossJoin(broadcast(ctf))
      .join(tf, Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(round(sum(termScore.cast("decimal(28,12)")).cast("double"), 6)
          .as("ql_score"),
        sum(when(col("tf").isNotNull, 1L).otherwise(0L))
          .as("n_terms_hit"))
      .orderBy(col("ql_score").desc, col("doc_id"))
      .limit(topK)
  }

  /** One BPE merge-candidate step: corpus-wide frequency of adjacent
    * character pairs inside tokens — the statistic a byte-pair-encoding
    * tokenizer maximizes when inducing its next merge. Pair extraction is
    * a per-row projection (HOF over a generated index sequence — fine
    * here: it runs once per vocab build, not per query); the aggregate is
    * alphabet²-sized after map-side partials, so the shuffle moves
    * kilobytes regardless of corpus size. */
  def bpePairs(docs: DataFrame, topK: Int = 20): DataFrame = {
    val tok = docs.select(explode(tokens(col("text"))).as("tok"))
      .filter(length(col("tok")) >= 2)
    tok.select(explode(transform(
        sequence(lit(1), length(col("tok")) - 1),
        i => col("tok").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topK)
  }

  /** Iterative BPE merge learning — the tokenizer-training loop, as
    * `rounds` relational rounds over an exploded (word, pos, symbol)
    * frame (the same driver-loop shape as Lloyd's k-means and PageRank).
    * Each round: adjacent-pair counts via `lead` over the per-word
    * window (one shuffle on the word key, alphabet²-sized after map-side
    * partials), argmax merge (count desc, pair lexicographic — total
    * order), then a LEFTMOST-GREEDY non-overlapping merge applied
    * relationally: matched positions form gaps-and-islands (island =
    * pos − rank), and within an island every even offset merges —
    * exactly the sequential scan's choice for runs like "aaa", with no
    * per-row loop. Rebuild keeps non-consumed symbols and re-indexes by
    * row_number. The work list is the top-`topWords` vocabulary (freq
    * desc, word tiebreak), so state is vocabulary-sized regardless of
    * corpus size — at 100 TB the word-count pass is the only
    * corpus-sized stage, which is how production BPE trainers sample
    * anyway. Output: one row per learned merge with its count and the
    * corpus token total after applying it (the audit column).
    * Reference analog: the tokenizer prep in the reference's loader has
    * no merge learning — this is beyond-parity LLM-pipeline surface. */
  def bpeLearn(docs: DataFrame, rounds: Int = 3,
               topWords: Int = 200): DataFrame =
    bpeRounds(docs, rounds, topWords)._1

  /** Final sub-word vocabulary census after [[bpeLearn]]'s merges: the
    * encoded corpus' top tokens by weighted frequency — what a tokenizer
    * ships as its vocab head. Same loop, different projection. */
  def bpeVocab(docs: DataFrame, rounds: Int = 3, topWords: Int = 200,
               topK: Int = 20): DataFrame =
    bpeRounds(docs, rounds, topWords)._2
      .groupBy("sym")
      .agg(sum(col("freq")).as("weighted_freq"),
        count(lit(1)).as("n_positions"))
      .orderBy(col("weighted_freq").desc, col("sym"))
      .limit(topK)

  /** Shared per input plan (its semantic hash): q_bpe_learn and
    * q_bpe_vocab share one census job and merge loop per corpus. Both
    * results are driver-local frames, so the entry pins no RDDs. */
  private def bpeRounds(docs: DataFrame, rounds: Int,
                        topWords: Int): (DataFrame, DataFrame) =
    graft.Shared(docs.sparkSession, s"bpe$rounds.$topWords@" +
        docs.queryExecution.analyzed.semanticHash())(
      bpeRoundsUncached(docs, rounds, topWords))

  /** The merge loop itself runs DRIVER-LOCAL over the collected census —
    * the textbook BPE-trainer split: the corpus-scale work is the ONE
    * distributed weighted word count (scan + shuffle); the census it
    * produces is bounded at `topWords` rows by construction, so the
    * merge iterations touch at most topWords·|word| symbols and belong
    * on the driver (the same boundedness argument as the CMS audit
    * collect — Spark jobs per merge round bought nothing but scheduler
    * overhead on a 200-row frame). Semantics are unchanged from the
    * relational loop this replaces: greedy leftmost non-overlapping
    * merges (alternate positions within a matched run), pair tie-break
    * (count DESC, lsym ASC, rsym ASC), integer weights throughout —
    * Round9OpsSpec pins the hand-computed trajectory, and the census
    * stays ASCII-token territory where Scala and UTF8String string
    * orders agree (the tokenizer lowercases to [a-z0-9']). */
  private def bpeRoundsUncached(docs: DataFrame, rounds: Int,
                                topWords: Int): (DataFrame, DataFrame) = {
    val sp = docs.sparkSession
    import sp.implicits._
    val census: Array[(String, Long)] =
      docs.select(explode(tokens(col("text"))).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("w")).limit(topWords)
        .as[(String, Long)].collect()
    def codePoints(s: String): Array[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toArray
    }
    var toks: Array[(String, Long, Array[String])] =
      census.map { case (w, f) => (w, f, codePoints(w)) }
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long, Long)]
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((_, f, syms) <- toks; i <- 0 until syms.length - 1)
        pairCounts.updateWith((syms(i), syms(i + 1)))(
          c => Some(c.getOrElse(0L) + f))
      if (pairCounts.isEmpty) exhausted = true // mirrors the empty-best round
      else {
        val ((lsym, rsym), cnt) = pairCounts.toSeq
          .minBy { case ((l, r), c) => (-c, l, r) }
        toks = toks.map { case (w, f, syms) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == lsym && syms(i + 1) == rsym) {
              out += lsym + rsym; i += 2
            } else { out += syms(i); i += 1 }
          }
          (w, f, out.toArray)
        }
        val after = toks.iterator.map { case (_, f, s) => f * s.length }.sum
        merges += ((k.toLong, lsym, rsym, cnt, after))
        k += 1
      }
    }
    val mergesDf = merges.toSeq
      .toDF("merge_rank", "lsym", "rsym", "pair_count", "corpus_tokens_after")
      .orderBy("merge_rank")
    val toksDf = toks.toSeq
      .flatMap { case (w, f, syms) =>
        syms.iterator.zipWithIndex.map { case (s, i) =>
          (w, f, (i + 1).toLong, s) }.toSeq }
      .toDF("w", "freq", "pos", "sym")
    (mergesDf, toksDf)
  }

  /** Cross-source contamination matrix: for every source pair, how many
    * distinct word shingles they share, plus the containment ratio
    * (shared / smaller side). The distinct (source, shingle) projection
    * collapses each source to its shingle set FIRST — the self-join then
    * runs on vocabulary-sized inputs, not document-sized, and
    * hash-partitions on the shingle. At 100 TB group on a 60-bit shingle
    * hash instead of raw text (same payload trick as exact dedup). */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    // ONE corpus scan + ONE corpus-sized shuffle: group every shingle
    // straight to its (deduped, sorted) source set. The vocab-sized result
    // is checkpointed so the counts and pairs branches below don't each
    // re-scan the corpus (Catalyst does not share common subtrees). The
    // source pairs are emitted LOCALLY per shingle (≤ |sources|² rows) —
    // the self-join formulation costs two more corpus-sized shuffles.
    val srcsAll = docs.select(col("source"),
        explode(graft.plans.TextSketches.word_shingles(
          tokens(col("text")), n)).as("sh"))
      .groupBy("sh")
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .pinned()
    val counts = srcsAll.select(explode(col("srcs")).as("source"))
      .groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val pairs = srcsAll.filter(size(col("srcs")) > 1)
      .select(explode(flatten(transform(col("srcs"),
        (x, i) => transform(slice(col("srcs"), i + 2, size(col("srcs"))),
          y => struct(x.as("source_a"), y.as("source_b")))))).as("p"))
    pairs.select(col("p.source_a"), col("p.source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_shingles"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_shingles").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_shingles").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        round(col("shared_shingles") / least(col("n_a"), col("n_b")), 6)
          .as("containment"))
      .orderBy("source_a", "source_b")
  }

  /** Per-document n-gram novelty: the fraction of a document's distinct
    * shingles that no EARLIER document (by doc_id — ingestion order)
    * contains. The curation signal behind "is this shard adding anything
    * new": a corpus whose novelty curve collapses is re-crawling itself.
    * min(doc_id) per shingle is one vocabulary-sized aggregate; the
    * re-join is on the same shingle key — at 100 TB both stages
    * hash-partition on a 60-bit shingle hash instead of raw text. */
  def ngramNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val sh = docs.select(col("doc_id"),
      explode(graft.plans.TextSketches.word_shingles(
        tokens(col("text")), n)).as("sh"))
    val first = sh.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty", round(col("n_novel") / col("n_shingles"), 6))
      .orderBy("doc_id")
  }

  /** Zipf fit of the corpus token-frequency curve: OLS slope/intercept of
    * ln(freq) against ln(rank) in closed form. A natural-language corpus
    * slopes near −1; a flat or collapsed slope is a red flag (templated or
    * deduplicate-starved data). The regression runs over the VOCABULARY
    * (one row per distinct token, already reduced by the count aggregate);
    * the OLS moment sums go through decimal so the fit is order-stable.
    * The rank window orders by (freq, token) — deterministic under ties. */
  def zipfFit(docs: DataFrame,
              tfOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = tfOpt.map(_.groupBy(col("term").as("tok"))
        .agg(sum(col("tf")).as("freq")))
      .getOrElse(docs.select(explode(tokens(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq")))
    val w = Window.orderBy(col("freq").desc, col("tok"))
    val ranked = freq.withColumn("rank", row_number().over(w))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"))
    val s = ranked.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("x").cast("decimal(38,18)")).cast("double").as("sx"),
      sum(col("y").cast("decimal(38,18)")).cast("double").as("sy"),
      sum((col("x") * col("y")).cast("decimal(38,18)")).cast("double")
        .as("sxy"),
      sum((col("x") * col("x")).cast("decimal(38,18)")).cast("double")
        .as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").cast("bigint").as("vocab"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / col("n"), 6).as("intercept"))
  }

  /** Dataset card: the one-row datasheet a corpus release ships with —
    * sizes, source/language breadth, token statistics, exact-duplicate
    * count. ONE pass over the corpus (single aggregate, map-side
    * partials); means are computed as exact-integer sum / count rather
    * than avg() so the card is bit-stable across partition orders. */
  def datasetCard(docs: DataFrame): DataFrame = {
    val staged = docs.select(col("lang"), col("source"), col("n_chars"),
      col("text"), size(tokens(col("text"))).cast("bigint").as("n_tokens"))
    staged.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(col("n_tokens")).as("total_tokens"),
      round(sum(col("n_tokens")).cast("double") / count(lit(1)), 6)
        .as("mean_tokens"),
      round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
        .as("mean_chars"),
      (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"),
      min(col("n_tokens")).as("min_tokens"),
      max(col("n_tokens")).as("max_tokens"))
  }

  def chunkBoilerplate(docs: DataFrame, chunkTokens: Int = 4): DataFrame = {
    // Native single-loop chunk assembly (graft.plans.TokenChunks): the HOF
    // equivalent (transform∘concat_ws∘slice) is interpreter-bound and
    // dominated this query's bench time, exactly like shingle assembly.
    graft.plans.TextSketches.register(docs.sparkSession)
    val chunks = graft.plans.TextSketches
      .token_chunks(tokens(col("text")), chunkTokens)
    val chunkRows = docs.select(col("doc_id"),
      explode(chunks).as("chunk_text"))
    val spread = chunkRows.groupBy("chunk_text")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunkRows.join(spread, "chunk_text")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_shared"),
        round(sum(when(col("n_docs") > 1, 1.0).otherwise(0.0)) /
          count(lit(1)), 6).as("boilerplate_frac"))
      .orderBy("doc_id")
  }

  /** Inverted index over the corpus: per term, document frequency, total
    * term frequency, and a doc-ordered posting list ("doc:tf,…") — the
    * build step behind the BM25/TF-IDF retrieval queries. df/total_tf are
    * exact over ALL postings; the materialized posting string is capped at
    * the first `postingCap` docs per term via a per-term window, so
    * per-term state is bounded even for stop-words whose true posting
    * list is corpus-sized (the unbounded collect_list would be the 100 TB
    * OOM). One (term,doc) shuffle feeds both aggregates. */
  def invertedIndex(docs: DataFrame, dfFloor: Long = 5L,
                    postingCap: Int = 20, k: Int = 50,
                    tfOpt: Option[DataFrame] = None): DataFrame = {
    val tf = tfOpt.map(_.select("term", "doc_id", "tf"))
      .getOrElse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf")))
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"))
    val w = Window.partitionBy("term").orderBy("doc_id")
    val postings = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= postingCap)
      .groupBy("term")
      .agg(concat_ws(",", transform(
        sort_array(collect_list(struct(col("doc_id"), col("tf")))),
        p => concat(p("doc_id").cast("string"), lit(":"),
          p("tf").cast("string")))).as("postings"))
    stats.join(postings, "term")
      .filter(col("df") >= dfFloor)
      .select(col("term"), col("df"), col("total_tf"), col("postings"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** Multinomial naive Bayes over the labeled corpus (train on `lang`,
    * classify the same docs — the in-sample fit a curation pipeline uses
    * to find mislabeled documents): Laplace-smoothed token likelihoods,
    * argmax of log prior + Σ log p(token|class), reported as the
    * actual × predicted confusion matrix. The model side (per-class token
    * counts) is one (term,class) shuffle; scoring is the SPARSE join of
    * doc vocabulary to the model on term alone plus a closed-form dense
    * remainder (see the factoring note below) — both data-sized stages
    * are plain hash aggregates/joins, and the class×vocab scalars ride a
    * broadcast one-row frame. Per-token log terms round through DECIMAL
    * before the per-doc sum, so the argmax is order-independent and the
    * DuckDB oracle reproduces every prediction exactly. */
  def naiveBayes(docs: DataFrame, alpha: Double = 1.0,
                 tfOpt: Option[DataFrame] = None): DataFrame = {
    // ONE occurrence-scale pass: tokenize-explode streams straight into
    // the per-doc tf aggregate, and EVERY model-side frame (class-token
    // counts, class token totals, the vocab scalar) derives from the
    // doc-vocabulary frame by summing tf — the earlier factorization
    // re-aggregated raw token occurrences once per consumer. The
    // checkpoint pins the doc-vocab result (~3-5× smaller than the
    // occurrence frame here; more on natural text) for its four readers —
    // and when the session's shared doc-term matrix is passed in, the
    // whole build collapses to a projection of that already-materialized
    // frame (doc-count sides below stay docs-based either way).
    val docTf = tfOpt.map(_.select("doc_id", "lang", "term", "tf"))
      .getOrElse(docs.select(col("doc_id"), col("lang"),
          explode(tokens(col("text"))).as("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(count(lit(1)).as("tf"))
        .pinned())
    // classTok is vocab×classes-sized — checkpointed because tok_c and
    // the vocab scalar both DERIVE from it by integer re-aggregation
    // (Σ_t cnt per class ≡ Σ tf per class; distinct terms of classTok ≡
    // corpus vocabulary, every term living in ≥1 class), which drops two
    // of the doc-term-matrix scans this model build used to pay
    val classTok = docTf.groupBy(col("lang").as("cls"), col("term"))
      .agg(sum(col("tf")).as("cnt"))
      .pinned()
    val classes = classTok.groupBy(col("cls"))
      .agg(sum(col("cnt")).as("tok_c"))
      .join(docs.groupBy(col("lang").as("cls"))
        .agg(count(lit(1)).as("n_docs")), Seq("cls"))
      .crossJoin(broadcast(
        classTok.select("term").distinct().agg(count(lit(1)).as("v"))))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
    // SPARSE scoring (the classic NB factoring): with smoothing α,
    //   Σ_t tf·ln((cnt+α)/(tok_c+α·v))
    //     = Σ_{t: cnt>0} tf·(ln(cnt+α) − ln α)
    //       + docLen·(ln α − ln(tok_c+α·v))
    // so the per-(doc, class) fanout joins docTf to the model on TERM
    // alone — a term fans out only to classes that actually contain it
    // (≈1-2 for language-specific tokens), not to every class — and the
    // dense remainder is a closed-form per-class constant over the
    // |docs|×|classes| frame. The old form cross-joined the doc-vocab
    // frame with ALL classes. Decimal-summed sparse addends keep the
    // per-doc sum order-independent; the DuckDB oracle mirrors this
    // exact factoring term for term.
    val docLen = docTf.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("tf")).as("len"))
    // classTok is vocab×classes-sized — broadcast keeps the sparse join
    // narrow (the doc-vocab frame never shuffles on term) and the
    // per-(doc, class) partial sums collapse map-side before their
    // exchange; past broadcast size drop the hint and the join degrades
    // to a hash join with the same sparse output
    val sparse = docTf.join(broadcast(classTok), Seq("term"))
      .groupBy(col("doc_id"), col("lang"), col("cls"))
      .agg(sum((col("tf").cast("double") *
          (log(col("cnt").cast("double") + lit(alpha)) - log(lit(alpha))))
        .cast("decimal(28,12)")).cast("double").as("ll_m"))
    val scored = docLen
      .crossJoin(broadcast(classes))
      .join(sparse, Seq("doc_id", "lang", "cls"), "left")
      .select(col("doc_id"), col("lang").as("actual"), col("cls"),
        (coalesce(col("ll_m"), lit(0.0))
          + col("len").cast("double") * (log(lit(alpha)) -
            log((col("tok_c") + lit(alpha) * col("v")).cast("double")))
          + log(col("n_docs").cast("double") /
            col("n_total").cast("double"))).as("score"))
    // argmax as a map-side-combining aggregate (the nearestCentroid
    // trick): min_by over (-score, cls) selects by the IDENTICAL total
    // order as the rank-1 window it replaces — round-6 score DESC, class
    // name ASC — but partial-collapses the |docs|×|classes| frame inside
    // its scan stage instead of shuffling and sorting it
    scored
      .groupBy(col("doc_id"), col("actual"))
      .agg(min_by(col("cls"),
        struct((-round(col("score"), 6)).as("ns"), col("cls")))
        .as("predicted"))
      .groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("actual", "predicted")
  }

  /** Hashing-trick featurization: each token maps to one of `buckets`
    * (power of two) signed slots via the portable 60-bit hash — low bits
    * pick the bucket, bit log2(buckets) picks the sign, so bucket and
    * sign are independent and both reproduce bit-exactly in the DuckDB
    * oracle. Long-form output (doc, bucket, weight): a per-row projection
    * plus one bounded (doc × buckets) aggregate — scan-speed at 100 TB.
    * Bit ops, not division: h/buckets as a double would lose precision
    * above 2^53 and break cross-engine sign parity. */
  def featureHashing(docs: DataFrame, buckets: Int = 16,
                     tfOpt: Option[DataFrame] = None): DataFrame = {
    require((buckets & (buckets - 1)) == 0, "buckets must be a power of 2")
    val signBit = java.lang.Integer.numberOfTrailingZeros(buckets)
    // from the shared matrix each DISTINCT term hashes once and its tf
    // scales the signed weight — integer arithmetic, so the occurrence
    // form and the bag form are bit-equal
    val perTok = tfOpt
      .map(_.select(col("doc_id"), col("term"), col("tf")))
      .getOrElse(docs
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("tf", lit(1L)))
    perTok.select(col("doc_id"), col("tf"),
        portableH60(col("term")).as("__h"))
      .select(col("doc_id"), col("tf"),
        col("__h").bitwiseAND(lit((buckets - 1).toLong)).as("bucket"),
        when(shiftright(col("__h"), signBit).bitwiseAND(lit(1L)) === 0L,
          lit(1L)).otherwise(lit(-1L)).as("sign"))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sign") * col("tf")).as("weight"),
        sum(col("tf")).as("n_tokens"))
      .orderBy("doc_id", "bucket")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the corpus token co-occurrence graph — two tokens are linked when
    * they appear within `window` positions of each other in a document,
    * edge weight = corpus co-occurrence count. The top-k terms by damped
    * rank are the corpus keywords (the graph-centrality cousin of the
    * tf-idf/BM25 frequency scorers: a term matters because it co-occurs
    * with terms that matter).
    *
    * Scale shape: co-occurrence pairs are synthesized PER ROW with
    * higher-order functions over the token array (offset-shifted zips) —
    * no positional self-join, so the corpus is scanned once and the only
    * corpus-scale shuffle is the (term_a, term_b) count aggregate,
    * map-side combined. The ≥`minCooc` prune then drops the long tail
    * before any iteration, and the 3 fixed PageRank rounds run on the
    * pruned VOCABULARY-scale graph with decimal-summed inflows
    * (GraphAnalytics.pageRank — rank frame deliberately hint-free, AQE
    * chooses broadcast vs hash join per round). Self-pairs are dropped
    * (a token adjacent to itself carries no ranking signal and would add
    * self-loops PageRank theory doesn't want). */
  def textrank(docs: DataFrame, window: Int = 2, minCooc: Long = 2L,
               k: Int = 20): DataFrame = {
    // Native cooc_pairs (one JVM loop per row) replaces the HOF
    // offset-shifted transform + least/greatest + self-filter — the
    // interpreted-lambda formulation cost ~5 s at sf0.1 on a cold JVM
    // (the same hazard plans/TextSketches.WordShingles documents), this
    // is sub-second with identical pair multiset. Tokens are whitespace-
    // split, so the space-joined canonical pair splits back losslessly.
    graft.plans.TextSketches.register(docs.sparkSession)
    val und = docs
      .select(explode(graft.plans.TextSketches.cooc_pairs(
        tokens(col("text")), window)).as("pr"))
      .groupBy("pr").agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCooc)
      .select(substring_index(col("pr"), " ", 1).as("ta"),
        substring_index(col("pr"), " ", -1).as("tb"), col("n"))
    val edges = und.select(col("ta").as("src"), col("tb").as("dst"),
        col("n").as("w"))
      .union(und.select(col("tb").as("src"), col("ta").as("dst"),
        col("n").as("w")))
    graft.analytics.GraphAnalytics.pageRank(edges)
      .orderBy(col("rank").desc, col("id")).limit(k)
      .select(col("id").as("term"), col("rank"))
  }

  /** Tokenizer fertility audit per language: subword-per-word ratio
    * (whitespace words vs the BPE-ish pre-tokenizer regex of
    * [[textStats]]) and chars-per-subword — THE tokenizer-efficiency
    * metric a multilingual training run budgets sequence length with
    * (high-fertility languages consume context disproportionately).
    * One map-side-collapsing aggregate to the language-cardinality
    * frame; every output is a rational of exact integer sums. */
  def tokenizerFertility(docs: DataFrame): DataFrame = {
    val words = size(filter(split(lower(col("text")), "\\s+"),
      t => t =!= ""))
    val bpe = regexp_count(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
    docs.select(col("lang"), words.cast("bigint").as("w"),
        bpe.cast("bigint").as("t"),
        length(col("text")).cast("bigint").as("ch"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
        sum(col("t")).as("n_subwords"), sum(col("ch")).as("n_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"), col("n_subwords"),
        r6(col("n_subwords").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        r6(col("n_chars").cast("double") / col("n_subwords").cast("double"))
          .as("chars_per_subword"))
      .orderBy("lang")
  }

  /** Structured-content census per document — the web-curation signal
    * that separates prose from markup/log/boilerplate payloads: counts
    * of URLs, e-mail addresses, numeric tokens, and code-ish
    * punctuation runs, plus the digit ratio. Every count is a map-side
    * `regexp_count` projection (codegen'd, one pass, no tokenize) with
    * patterns chosen to parse identically under Java and POSIX regex
    * semantics on the ASCII fixture domain. The downstream gate uses
    * these the way [[textStats]]' stopword ratio is used: thresholds
    * over cheap per-doc integers. */
  def contentCensus(docs: DataFrame): DataFrame = {
    def rc(pat: String) =
      regexp_count(col("text"), lit(pat)).cast("long")
    val nChars = length(col("text")).cast("long")
    val nDigits = rc("[0-9]")
    docs.select(col("doc_id"),
        rc("https?://[^ ]+").as("n_urls"),
        rc("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]+")
          .as("n_emails"),
        rc("[0-9]+\\.[0-9]+|[0-9]+").as("n_numbers"),
        rc("[{}();=<>]{2,}").as("n_code_runs"),
        nChars.as("n_chars_m"), nDigits.as("n_digits"))
      .select(col("doc_id"), col("n_urls"), col("n_emails"),
        col("n_numbers"), col("n_code_runs"),
        r6(when(col("n_chars_m") > 0L,
          col("n_digits").cast("double") / col("n_chars_m").cast("double"))
          .otherwise(lit(0.0))).as("digit_ratio"))
      .orderBy("doc_id")
  }

  /** Flesch-style readability per document — the classic prose-difficulty
    * score as a corpus quality signal (very high or very low readability
    * both correlate with boilerplate/garbage in web-scale filtering).
    * Syllables use the deterministic vowel-group proxy: runs of
    * `[aeiouy]+` counted over the lowered text (whitespace breaks groups,
    * so the whole-text count equals the per-word sum) plus one for each
    * vowel-less token (the max(1, ·) floor per word, folded in closed
    * form). Sentences are `[.!?]+` runs floored at one. Everything is a
    * map-side projection over integers; the score is the single final
    * double expression. */
  def readability(docs: DataFrame): DataFrame = {
    val toks = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    val nWords = size(toks).cast("long")
    val groups = regexp_count(lower(col("text")), lit("[aeiouy]+"))
      .cast("long")
    val zeroVowel = size(filter(toks,
      w => not(w.rlike("[aeiouy]")))).cast("long")
    val nSyll = groups + zeroVowel
    val nSent = greatest(lit(1L),
      regexp_count(col("text"), lit("[.!?]+")).cast("long"))
    def d(c: Column) = c.cast("double")
    docs.select(col("doc_id"), nWords.as("n_words"),
        nSent.as("n_sentences"), nSyll.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0L,
          r6(lit(206.835) -
            lit(1.015) * d(col("n_words")) / d(col("n_sentences")) -
            lit(84.6) * d(col("n_syllables")) / d(col("n_words"))))
          .otherwise(lit(0.0)))
      .orderBy("doc_id")
  }

  /** Dunning log-likelihood-ratio (G²) collocations — the
    * significance-aware sibling of [[bigramPmi]]: PMI over-rewards rare
    * pairs (two hapaxes that co-occur once get the corpus-max score);
    * G² weighs the full 2×2 contingency of positional bigram counts, so
    * high scores need both association AND evidence. Margins come from
    * the bigram CELL frame itself (c1 = Σ_w2 c12 per first word, c2 per
    * second word, N = Σ all) — one corpus pass builds the cells, every
    * margin is a reaggregation of that vocabulary-bounded frame, and
    * both margin joins broadcast. Zero cells contribute exactly 0 (the
    * k·ln k convention), each term is a double over exact integers —
    * deterministic ln cross-engine, r6-rounded. */
  def llrCollocations(docs: DataFrame, minPair: Long = 20L): DataFrame = {
    graft.plans.TextSketches.register(docs.sparkSession)
    val grams = docs.select(tokens(col("text")).as("toks"))
      .select(explode(graft.plans.TextSketches.word_ngrams(col("toks"), 2))
        .as("bigram"))
      .select(substring_index(col("bigram"), " ", 1).as("w1"),
        substring_index(col("bigram"), " ", -1).as("w2"))
    val cells = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .pinned() // one corpus pass; margins + output read it
    val m1 = cells.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val m2 = cells.groupBy("w2").agg(sum(col("c12")).as("c2"))
    val nTot = cells.agg(sum(col("c12")).as("nn"))
    def d(c: Column) = c.cast("double")
    def term(k: Column, row: Column, cl: Column, n: Column): Column =
      when(k > 0.0, k * log(k * n / (row * cl))).otherwise(lit(0.0))
    val n = d(col("nn"))
    val (c1, c2, c12) = (d(col("c1")), d(col("c2")), d(col("c12")))
    val g2 = lit(2.0) * (
      term(c12, c1, c2, n) +
      term(c1 - c12, c1, n - c2, n) +
      term(c2 - c12, n - c1, c2, n) +
      term(n - c1 - c2 + c12, n - c1, n - c2, n))
    cells.filter(col("c12") >= minPair)
      .join(broadcast(m1), Seq("w1"))
      .join(broadcast(m2), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(concat(col("w1"), lit(" "), col("w2")).as("bigram"),
        col("c12").as("n_pair"),
        (c12 * n > c1 * c2).cast("int").as("positive"),
        r6(g2).as("llr"))
      .orderBy("bigram")
  }

  /** Segmented type–token ratio — the length-robust lexical-diversity
    * score (plain TTR collapses as documents grow; averaging the TTR of
    * fixed 50-token segments removes the length confound, so documents
    * of different sizes are comparable). Both the segment cells and the
    * whole-doc distinct count key their shuffles on doc_id, so the
    * second aggregate is partition-local after the first; output is one
    * row per document. Tail segments shorter than `segTokens` count —
    * dropping them would silently bias short docs to NULL. */
  def segmentTtr(docs: DataFrame, segTokens: Int = 50): DataFrame = {
    val toks = docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val segCells = toks
      .groupBy(col("doc_id"),
        floor(col("pos") / segTokens).cast("bigint").as("seg"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("tok")).as("n_d"))
    def d(c: Column) = c.cast("double")
    val perDocSeg = segCells.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum((d(col("n_d")) / d(col("n_tok"))).cast("decimal(28,12)"))
          .cast("double").as("sttr_sum"))
    val perDoc = toks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
    perDoc.join(perDocSeg, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("n_segments"),
        r6(d(col("n_distinct")) / d(col("n_tokens"))).as("ttr"),
        r6(col("sttr_sum") / d(col("n_segments"))).as("sttr"))
      .orderBy("doc_id")
  }

  /** RAKE keyword extraction (Rose et al. 2010), corpus-level: candidate
    * phrases are maximal non-stopword runs (after punctuation→delimiter
    * normalization), capped at `maxWords`; each word scores
    * degree/frequency over the candidate set; a phrase scores the sum of
    * its word scores. The corpus touches raw text exactly once — the
    * phrase census (canonical text, count) is vocabulary-bounded, and
    * BOTH the word statistics and the final scores derive from that
    * census (a phrase's words are a function of its text, so exploding
    * the weighted census equals exploding the corpus). The support
    * floor makes the output row set deterministic; ORDER BY phrase, not
    * by the floating score. Stopword list is a fixed public literal —
    * the same regex runs in both engines. */
  def rakeKeywords(docs: DataFrame, minCount: Long = 5L,
                   maxWords: Int = 3): DataFrame = {
    val stop = Seq("a", "the", "of", "and", "in", "to", "is", "on", "for",
      "with", "as", "by", "at", "or", "be")
    val stopRe = "\\b(" + stop.mkString("|") + ")\\b"
    val marked = regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9\\s]", "|"),
      stopRe, "|")
    val cand = docs.select(explode(split(marked, "\\|")).as("frag"))
      .select(filter(split(col("frag"), "\\s+"), t => t =!= "")
        .as("words"))
      .filter(size(col("words")) >= 1 && size(col("words")) <= maxWords)
      .select(array_join(col("words"), " ").as("phrase"))
    val pc = cand.groupBy("phrase").agg(count(lit(1)).as("n"))
      .withColumn("words", split(col("phrase"), " "))
      .pinned() // phrase census: word stats + scores read it
    val wstats = pc
      .select(explode(col("words")).as("w"), col("n"),
        size(col("words")).cast("bigint").as("len"))
      .groupBy("w")
      .agg(sum(col("n")).as("freq"), sum(col("n") * col("len"))
        .as("degree"))
    val wscore = wstats.select(col("w"),
      (col("degree").cast("double") / col("freq").cast("double"))
        .as("ws"))
    pc.filter(col("n") >= minCount)
      .select(col("phrase"), col("n"), explode(col("words")).as("w"))
      .join(broadcast(wscore), Seq("w"))
      .groupBy("phrase", "n")
      .agg(count(lit(1)).as("n_words"),
        sum(col("ws").cast("decimal(28,12)")).cast("double").as("sc"))
      .select(col("phrase"), col("n"), col("n_words"),
        r6(col("sc")).as("rake_score"))
      .orderBy("phrase")
  }
}
