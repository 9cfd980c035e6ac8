package graft.ext

import graft.Pins._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.CleanFns.r6

/** Approximate-nearest-neighbor suite over the `embeddings` fixture
  * (ArrayType(FloatType), dim 64).
  *
  * Numerics: every element is cast to double BEFORE multiplication and
  * summed left-to-right (HOF `aggregate` fold) so the result is bit-stable
  * and matches a DuckDB `list_cosine_similarity` over `DOUBLE[]`. Ranking
  * uses the 6-dp-rounded similarity with an id tiebreak, so sub-ulp engine
  * differences cannot flip ranks.
  *
  * Scale shapes:
  *  - brute force: broadcast the (small) query set, per-partition windowed
  *    top-k — the corpus never shuffles, only |Q|·k result rows move;
  *  - IVF: centroid assignment is a broadcast argmin (corpus map-only);
  *    probing joins queries to their centroid's bucket only, cutting
  *    compared pairs by ~n_centroids versus brute force.
  */
object Similarity {

  /** Dot product over float32 arrays in double precision — the native
    * `DotF32` expression (bit-identical to the HOF cast-and-fold form,
    * ~6× faster; see graft.plans.VectorOps). Callers must have called
    * `VectorOps.register` on the session — the DataFrame entry points below
    * do it themselves. */
  def dot(a: Column, b: Column): Column = graft.plans.VectorOps.dot_f32(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** Brute-force cosine top-k: queries = vec_id % queryMod == 0.
    * Norms are materialized per vector BEFORE the pair join — computing
    * `cosine(a,b)` per pair would redo both norms |Q| resp. |corpus| times.
    * Formula stays dot/(|a|·|b|) (not pre-normalized vectors) for bit-parity
    * with the DuckDB oracle's list_cosine_similarity. */
  def bruteForceTopK(emb: DataFrame, k: Int = 10,
                     queryMod: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val q = withNorm.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val sims = withNorm.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Per-vector nearest-centroid pick as a map-side-combining aggregate:
    * `max_by(payload, (c_sim, -centroid_id))` selects by the same total
    * order as the rank-1 window it replaces (c_sim DESC, centroid_id ASC
    * — centroid ids are unique, so the order is total and the pick
    * deterministic). max_by is a DeclarativeAggregate, so the
    * |corpus|×|centroids| fanout PARTIAL-collapses inside the scan stage
    * (each vector's candidates are generated co-located by the broadcast
    * join) and the exchange moves ONE pre-reduced row per vector — the
    * window form shuffled and sorted the entire fanout, the only
    * data-scale shuffle in the assignment step at 100 TB. */
  private def nearestCentroid(fanout: DataFrame,
                              payload: Column*): DataFrame =
    fanout.groupBy("vec_id")
      .agg(max_by(struct(payload: _*),
        struct(col("c_sim"), (-col("centroid_id")).as("nid"))).as("best"))

  /** IVF-style probe: centroids = vec_id % centroidMod == 0; every vector is
    * assigned to its nearest centroid (cosine argmax, id tiebreak); a query
    * searches only its own centroid's bucket. */
  def ivfTopK(emb: DataFrame, k: Int = 5, centroidMod: Int = 40,
              queryMod: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    // localCheckpoint: `assigned` feeds BOTH the query set and the probe
    // corpus below — without materialization the |corpus|×|centroids|
    // assignment cross-join executes twice (visible as two
    // BroadcastNestedLoopJoins in the plan).
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("embedding"), col("nrm"), col("centroid_id"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.nrm").as("nrm"), col("best.centroid_id").as("centroid_id"))
      .pinned()
    val q = assigned.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("centroid_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    assigned.join(broadcast(q), Seq("centroid_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 6).as("sim"))
      .withColumn("rank", row_number().over(wTop).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** ANN quality evaluation: recall@k of the IVF probe against the
    * brute-force ground truth, per query, averaged. The recall join is
    * left-semi on (query, neighbor) — both sides are top-k-sized (|Q|·k
    * rows), so the evaluation costs nothing next to the searches
    * themselves. The oracle checks the exact query count plus a recall
    * floor boolean (single-probe IVF trades recall for touching one
    * bucket; the floor is set from the fixture geometry with margin), so
    * the cross-engine compare stays deterministic. */
  def annRecall(emb: DataFrame, k: Int = 5, centroidMod: Int = 40,
                queryMod: Int = 10, floor: Double = 0.2): DataFrame = {
    val exact = bruteForceTopK(emb, k, queryMod)
      .select(col("query_id"), col("neighbor_id"))
    val approx = ivfTopK(emb, k, centroidMod, queryMod)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("query_id"), "left")
      .select(col("query_id"),
        (coalesce(col("n_hits"), lit(0L)) / col("n_exact")).as("recall"))
      .agg(count(lit(1)).as("n_queries"),
        (avg(col("recall")) >= floor).as("recall_ok"))
  }

  /** Double-array dot — the strict left fold DuckDB's
    * `list_cosine_similarity` accumulates in, as the native codegen'd
    * [[graft.plans.DotF64]] (bit-identical to the HOF
    * `aggregate(zip_with(a, b, *), 0d, +)` it replaced; HOF lambdas
    * evaluate interpreted per element — same swap as dot_f32). Callers
    * must `VectorOps.register` the session first. */
  private def dotD(a: Column, b: Column): Column =
    graft.plans.VectorOps.dot_f64(a, b)

  /** Iterated Lloyd's k-means: `rounds` full assignment → mean-update
    * cycles from the deterministic seeds (vec_id % centroidMod) — the
    * multi-round training loop [[kmeansRefine]] is one step of. Each
    * round is ONE corpus scan (assignment against broadcast centroids)
    * plus one k·d-wide partial-aggregated shuffle (the means); the
    * centroid frame localCheckpoints between rounds so the unrolled plan
    * stays constant-size — the same iteration pattern as PageRank and
    * connected components. Numerics: similarities are 6-dp-rounded before
    * the argmax, and means route their sums through DECIMAL then divide
    * as doubles, so every round — and therefore the whole trajectory —
    * is bit-identical across engines and partition orders. Returns the
    * final assignment's per-dimension means in the same long form as
    * kmeansRefine. */
  def kmeansIterate(emb: DataFrame, centroidMod: Int = 40,
                    rounds: Int = 2): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val corpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dotD(col("e"), col("e"))))
      .pinned()
    var cents = corpus.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"),
        col("nrm").as("cn"))
    // assignment argmax rides the map-side-combining max_by (see
    // nearestCentroid): the fanout never shuffles, each round's exchange
    // carries one pre-reduced row per vector
    def assign(): DataFrame = nearestCentroid(
      corpus.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("e"), col("centroid_id"),
          round(dotD(col("e"), col("ce")) / (col("nrm") * col("cn")), 6)
            .as("c_sim")),
      col("e"), col("centroid_id"))
      .select(col("vec_id"), col("best.e").as("e"),
        col("best.centroid_id").as("centroid_id"))
    val mean = round(sum(col("v").cast("decimal(28,12)")).cast("double") /
      count(lit(1)), 6)
    var assigned = assign()
    for (_ <- 2 to rounds) {
      cents = assigned
        .select(col("centroid_id"),
          posexplode(col("e")).as(Seq("dim_id", "v")))
        .groupBy("centroid_id", "dim_id")
        .agg(mean.as("m"))
        .groupBy("centroid_id")
        .agg(transform(
          array_sort(collect_list(struct(col("dim_id"), col("m")))),
          s => s.getField("m")).as("ce"))
        .withColumn("cn", sqrt(dotD(col("ce"), col("ce"))))
        .select(col("centroid_id"), col("ce"), col("cn"))
        .pinned()
      assigned = assign()
    }
    assigned
      .select(col("centroid_id"), posexplode(col("e")).as(Seq("dim_id", "v")))
      .groupBy("centroid_id", "dim_id")
      .agg(mean.as("c_val"), count(lit(1)).as("n_members"))
      .withColumn("dim_id", col("dim_id").cast("bigint"))
  }

  /** Hybrid retrieval: reciprocal-rank fusion of the semantic (cosine)
    * and lexical (BM25) rankings — the standard RAG-index combiner
    * (Cormack et al.: rrf = Σ 1/(k + rankᵢ), k = 60). Both candidate
    * pools come from DISTRIBUTED top-k (TakeOrderedAndProject — no
    * corpus-sized window anywhere); the rank row_numbers then run over
    * the 50-row pools. The fused score is two IEEE-identical double
    * terms added in a fixed order, so the full-outer-join fusion
    * hash-matches the oracle including its NULL ranks (a doc ranked by
    * only one modality keeps a NULL in the other's rank column). The
    * embeddings fixture's vec_id aligns with documents.doc_id, which is
    * what makes cross-modal fusion by id meaningful. */
  def rrfFusion(docs: DataFrame, emb: DataFrame, queryId: Long = 0L,
                kConst: Double = 60.0, poolK: Int = 50,
                topK: Int = 20): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val q = withNorm.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val semPool = withNorm.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id").as("id"),
        round(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 6).as("sim"))
      .orderBy(col("sim").desc, col("id")).limit(poolK)
    val sem = semPool.withColumn("r_sem",
      row_number().over(Window.orderBy(col("sim").desc, col("id")))
        .cast("bigint"))
    val lex = graft.ext.TextAnalysis.bm25(docs, topK = poolK)
      .select(col("doc_id").as("id"), col("bm25"))
      .withColumn("r_lex",
        row_number().over(Window.orderBy(col("bm25").desc, col("id")))
          .cast("bigint"))
    sem.select("id", "r_sem")
      .join(lex.select("id", "r_lex"), Seq("id"), "full_outer")
      .select(col("id"), col("r_sem"), col("r_lex"),
        round(
          coalesce(lit(1.0) / (lit(kConst) + col("r_sem")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kConst) + col("r_lex")), lit(0.0)), 6)
          .as("rrf"))
      .orderBy(col("rrf").desc, col("id"))
      .limit(topK)
  }

  /** Maximal-marginal-relevance diversification of the semantic top pool
    * (Carbonell & Goldstein): greedily pick argmax of
    * λ·rel − (1−λ)·max-sim-to-already-selected, three unrolled selection
    * steps (the same driver-unrolled shape as the BPE/k-means loops; the
    * oracle unrolls identically). Everything after the distributed top-k
    * pool cut runs on the 10-row pool — pairwise sims included — so the
    * corpus is touched exactly once. (1−λ) is COMPUTED in both engines
    * (not a 0.3 literal): the IEEE double of `1.0 − 0.7` differs from
    * the literal 0.3 in the last bit, and the hash check would see it. */
  def mmrSelect(emb: DataFrame, queryId: Long = 0L, lambda: Double = 0.7,
                poolK: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val q = withNorm.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val pool = withNorm.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= queryId)
      .select(col("vec_id").as("id"), col("embedding").as("e"), col("nrm"),
        round(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 6).as("rel"))
      .orderBy(col("rel").desc, col("id")).limit(poolK)
      .pinned()
    val pairs = pool
      .select(col("id").as("ia"), col("e").as("ea"), col("nrm").as("na"))
      .crossJoin(pool.select(col("id").as("ib"), col("e").as("eb"),
        col("nrm").as("nb")))
      .filter(col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("psim"))
      .pinned()
    val rels = pool.select(col("id"), col("rel"))
    val s1 = rels.orderBy(col("rel").desc, col("id")).limit(1)
      .select(lit(1L).as("sel_rank"), col("id"), col("rel"),
        col("rel").as("mmr"))
    def step(selected: DataFrame, k: Int): DataFrame = {
      val selIds = selected.select(col("id").as("sid"))
      val div = pairs.join(broadcast(selIds), col("ib") === col("sid"))
        .groupBy(col("ia").as("id")).agg(max(col("psim")).as("maxsim"))
      rels.join(broadcast(selIds), col("id") === col("sid"), "left_anti")
        .join(div, Seq("id"))
        .select(col("id"), col("rel"),
          round(lit(lambda) * col("rel") -
            lit(1.0 - lambda) * col("maxsim"), 6).as("mmr"))
        .orderBy(col("mmr").desc, col("id")).limit(1)
        .select(lit(k.toLong).as("sel_rank"), col("id"), col("rel"),
          col("mmr"))
    }
    val s2 = step(s1, 2)
    val s3 = step(s1.unionAll(s2), 3)
    s1.unionAll(s2).unionAll(s3).orderBy("sel_rank")
  }

  /** Centroid-based (simplified) silhouette of the seed clustering — the
    * clustering-quality eval that closes the k-means loop: per vector,
    * a = cosine distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b−a)/max(a,b) = (simₐ−sim_b)/(1−sim_b). One
    * broadcast of the centroid frame, corpus stays map-side (same shape
    * as the assignment step); both ranks come from a single per-vector
    * window over the |centroids|-sized sim list. Per-row silhouettes are
    * IEEE-identical doubles (6dp-rounded sims), decimal-summed per
    * cluster. The full pairwise silhouette is O(n²) by definition — the
    * centroid form is the one that exists at 100 TB. */
  def silhouette(emb: DataFrame, centroidMod: Int = 40): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val corpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dotD(col("e"), col("e"))))
    val cents = corpus.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"),
        col("nrm").as("cn"))
    val sims = corpus.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("centroid_id"),
        round(dotD(col("e"), col("ce")) / (col("nrm") * col("cn")), 6)
          .as("c_sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c_sim").desc, col("centroid_id"))
    val ranked = sims.withColumn("rn", row_number().over(w))
    val own = ranked.filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("c_sim").as("a_sim"))
    val oth = ranked.filter(col("rn") === 2)
      .select(col("vec_id"), col("c_sim").as("b_sim"))
    own.join(oth, "vec_id")
      .withColumn("sil",
        when(col("a_sim") === col("b_sim"), lit(0.0))
          .otherwise((col("a_sim") - col("b_sim")) /
            (lit(1.0) - col("b_sim"))))
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_members"),
        round(sum(col("sil").cast("decimal(28,12)")).cast("double") /
          count(lit(1)).cast("double"), 6).as("mean_silhouette"))
      .orderBy("centroid_id")
  }

  /** SemDeDup-shaped semantic dedup (cluster the embedding space, then
    * deduplicate only WITHIN clusters — Abbas et al. 2023, SemDeDup):
    * assign every vector to its nearest seed centroid with the same
    * broadcast cosine-argmax as [[kmeansRefine]], then keep each vector
    * that has NO lower-id neighbor at cosine ≥ `threshold` inside its own
    * cluster (keep-lowest-id: deterministic and engine-portable).
    *
    * Scale shape — the entire point of the design: the corpus
    * hash-partitions ONCE on centroid_id and the quadratic similarity
    * work is bounded per cluster; there is no global all-pairs join
    * anywhere. At 100 TB the cluster count scales with the corpus
    * (centroidMod stays fixed), keeping per-cluster membership — and so
    * per-partition work — roughly constant. */
  def semDedup(emb: DataFrame, centroidMod: Int = 40,
               threshold: Double = 0.35): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    // localCheckpoint: `assigned` feeds the pair self-join twice plus the
    // final anti-join — unmaterialized, the |corpus|×|centroids|
    // assignment executes three times (three BroadcastNestedLoopJoins in
    // the plan; same rationale as ivfTopK). Assignment argmax is the
    // map-side-combining max_by (see nearestCentroid).
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("embedding"), col("nrm"), col("centroid_id"))
      .select(col("vec_id"), col("best.embedding").as("embedding"),
        col("best.nrm").as("nrm"), col("best.centroid_id").as("centroid_id"))
      .pinned()
    val a = assigned.select(col("centroid_id"), col("vec_id").as("vid_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = assigned.select(col("centroid_id"), col("vec_id").as("vid_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    val dropped = a.join(b, Seq("centroid_id"))
      .filter(col("vid_a") < col("vid_b") &&
        round(dot(col("e_a"), col("e_b")) /
          (col("n_a") * col("n_b")), 6) >= threshold)
      .select(col("vid_b").as("vec_id")).distinct()
    assigned.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("centroid_id"))
  }

  /** Cluster-balanced diversity sample: assign every vector to its
    * nearest centroid (the [[ivfTopK]]/[[semDedup]] seed convention:
    * vec_id % centroidMod = 0, cosine argmax with id tiebreak), then keep
    * at most `cap` members per cluster in portable-hash order — the
    * topic-balanced subsample a curation pipeline draws so dominant
    * embedding modes don't drown the tail (the embedding-space analog of
    * [[Curation.domainCap]]'s per-source cap, with the same unbiased
    * reproducible hash order).
    *
    * Scale shape: assignment is corpus × broadcast(centroids) collapsing
    * map-side via max_by (see [[nearestCentroid]] — one pre-reduced row
    * per vector crosses the wire); the cap is ONE shuffle on centroid_id
    * whose rank predicate compiles to WindowGroupLimit, so each partition
    * keeps a bounded per-cluster head. Only (vec_id, centroid_id) ever
    * shuffles — embeddings stay in the scan stage. */
  def clusterBalance(emb: DataFrame, centroidMod: Int = 40,
                     cap: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("centroid_id"))
      .select(col("vec_id"), col("best.centroid_id").as("centroid_id"))
    val w = Window.partitionBy("centroid_id")
      .orderBy(graft.ext.TextFns.portableH60(col("vec_id")), col("vec_id"))
    assigned.withColumn("keep_rank", row_number().over(w).cast("bigint"))
      .filter(col("keep_rank") <= cap)
      .orderBy("centroid_id", "keep_rank")
  }

  /** One Lloyd's-iteration k-means refinement over the embedding corpus —
    * the centroid-training building block an embedding pipeline runs to
    * construct IVF/PQ indexes. Seeds = vec_id % centroidMod (deterministic,
    * same as `ivfTopK`); assignment = cosine argmax with centroid-id
    * tiebreak; refinement = per-dimension mean of the assigned vectors,
    * emitted in (centroid_id, dim_id, c_val, n_members) long form.
    *
    * Scale shape: assignment is corpus × broadcast(centroids) — one pass
    * over the corpus, which never shuffles; refinement explodes assigned
    * vectors to (centroid, dim, value) and partial-aggregates map-side, so
    * the shuffle carries at most k·d partial sums per partition, not
    * vectors. Iterating Lloyd's = re-calling this with the returned
    * centroids; each round is one scan + one k·d-wide shuffle. */
  def kmeansRefine(emb: DataFrame, centroidMod: Int = 40): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("embedding"), col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("embedding"), col("centroid_id"))
      .select(col("best.centroid_id").as("centroid_id"),
        posexplode(col("best.embedding")).as(Seq("dim_id", "v")))
      .groupBy("centroid_id", "dim_id")
      .agg(round(avg(col("v")), 6).as("c_val"),
        count(lit(1)).as("n_members"))
      .withColumn("dim_id", col("dim_id").cast("bigint"))
  }

  /** Default ceiling for the exact all-pairs baselines: above every
    * evidence fixture (sf1's 20 k vectors → 2.0e8 pairs), below any
    * corpus where the exact form has business running (1e6 vectors →
    * 5e11 pairs). Same discipline as GraphAnalytics.DefaultWedgeBudget. */
  private[graft] val DefaultPairBudget: Long = 1000000000L

  /** Fail-fast budget guard for the exact all-pairs forms: counts are
    * one job on the (already-loaded) embedding frame, and the require
    * trips BEFORE a quadratic crossJoin is scheduled, naming the
    * LSH-blocked scale sibling. BigInt: two 2^31-row sides overflow a
    * long product. */
  private def requirePairBudget(nPairs: BigInt, maxPairs: Long,
                                op: String, sibling: String): Unit =
    require(nPairs <= maxPairs,
      s"$op: exact all-pairs synthesis would score $nPairs pairs over " +
        s"budget $maxPairs. This form is a small-fixture oracle " +
        s"baseline — use $sibling (LSH-blocked, no all-pairs frame) at " +
        s"scale, or raise maxPairs explicitly.")

  /** Embedding-cosine near-dup pairs, exact: all (a < b) pairs with
    * cosine ≥ threshold. This is the small-corpus baseline and the oracle
    * for the LSH-blocked variant below — at 100 TB the all-pairs join is
    * never run; `embeddingNearDupLSH` is the scale path, and
    * [[requirePairBudget]] enforces that in code past `maxPairs`. */
  def embeddingNearDup(emb: DataFrame, threshold: Double = 0.3,
                       maxPairs: Long = DefaultPairBudget): DataFrame = {
    val n = BigInt(emb.count())
    requirePairBudget(n * (n - 1) / 2, maxPairs,
      "embeddingNearDup", "embeddingNearDupLSH")
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val a = withNorm.select(col("vec_id").as("vec_id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = withNorm.select(col("vec_id").as("vec_id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.crossJoin(b).filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Embedding-cosine near-dup, LSH-blocked (the 100 TB shape): candidate
    * pairs share a random-hyperplane bucket, exact cosine is evaluated only
    * within buckets. Recall < 1 by construction (a near-dup pair can straddle
    * buckets); fewer bits → more recall, more comparisons. The shuffle moves
    * (bucket, id, vector) once; no all-pairs join ever materializes. */
  def embeddingNearDupLSH(emb: DataFrame, threshold: Double = 0.3,
                          nBits: Int = 8): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    // localCheckpoint: `bucketed` is both join sides below — without it
    // the nBits×dims hyperplane hashing and the bucket join run twice.
    val bucketed = emb.join(lshBuckets(emb, nBits), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        l2norm(col("embedding")).as("nrm"))
      .pinned()
    val a = bucketed.select(col("bucket"), col("vec_id").as("vec_id_a"),
      col("embedding").as("e_a"), col("nrm").as("n_a"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("vec_id_b"),
      col("embedding").as("e_b"), col("nrm").as("n_b"))
    a.join(b, Seq("bucket"))
      .filter(col("vec_id_a") < col("vec_id_b"))
      .select(col("vec_id_a"), col("vec_id_b"),
        round(dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** LSH bit-width tuning sweep — the report that picks `nBits` BEFORE a
    * 100 TB dedup run commits to a bucket layout: for each candidate
    * width, the candidate-pair volume (the cost axis: pairs the exact
    * verifier must score) and the recall against the exact near-dup
    * pair set (the quality axis: LSH-found pairs are bucket-verified
    * with the same exact cosine, so they are a subset of the exact
    * pairs and recall = found/exact). Fewer bits → bigger buckets →
    * more candidates, higher recall. The hyperplanes are prefix-stable
    * across widths (plane b depends only on b), so the sweep shares one
    * plane family. The exact pair count is the documented all-pairs
    * oracle form; each sweep arm is the bucketed join that replaces it
    * at scale. */
  def lshTuning(emb: DataFrame, threshold: Double = 0.3,
                bitsList: Seq[Int] = Seq(4, 8, 12)): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val exact = embeddingNearDup(emb, threshold)
      .agg(count(lit(1)).as("n_exact_pairs"))
    val arms = bitsList.map { nb =>
      val bucketed = emb.join(lshBuckets(emb, nb), Seq("vec_id"))
        .select(col("vec_id"), col("embedding"), col("bucket"),
          l2norm(col("embedding")).as("nrm"))
        .pinned()
      val a = bucketed.select(col("bucket"), col("vec_id").as("va"),
        col("embedding").as("e_a"), col("nrm").as("n_a"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("vb"),
        col("embedding").as("e_b"), col("nrm").as("n_b"))
      a.join(b, Seq("bucket"))
        .filter(col("va") < col("vb"))
        .select(round(dot(col("e_a"), col("e_b")) /
          (col("n_a") * col("n_b")), 6).as("sim"))
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("sim") >= threshold, 1L).otherwise(0L))
            .as("n_found"))
        .withColumn("n_bits", lit(nb.toLong))
    }
    arms.reduce(_.unionAll(_))
      .crossJoin(broadcast(exact))
      .select(col("n_bits"), col("n_exact_pairs"), col("n_candidates"),
        col("n_found"),
        r6(col("n_found").cast("double") /
          col("n_exact_pairs").cast("double")).as("recall"))
      .orderBy("n_bits")
  }

  /** DBSCAN role census over the thresholded cosine graph: a vector with
    * ≥ minPts neighbors at sim ≥ threshold is CORE, a non-core vector
    * adjacent to a core is BORDER, the rest is NOISE — the density
    * diagnostic that tells a curation pipeline whether an embedding space
    * has exploitable cluster structure before it pays for a clusterer
    * (DBSCAN, Ester et al. 1996; the census is the ε-scan step). The
    * neighbor graph here is [[embeddingNearDup]]'s exact pair frame (the
    * documented small-corpus oracle form); at 100 TB swap in
    * [[embeddingNearDupLSH]]'s bucketed pairs and everything downstream —
    * degree count, border probe, core-edge count — is unchanged, all of
    * it id-keyed aggregates and semi joins, never payload-sized
    * shuffles. Output is a one-row census plus the core-core edge count
    * (the input size of the components step a full DBSCAN would run —
    * [[graft.ext.DedupCluster]] has that machinery). */
  /** Shared ε-graph builder for the DBSCAN pair: thresholded cosine
    * pairs, the symmetric adjacency view, and per-point core roles.
    * `pairs` and `roles` come back LAZILY checkpointed (each feeds ≥2
    * consumers; lazy = the one quadratic ε-scan runs inside the first
    * consumer's job, is stored once, and reused after — no separate
    * materialization job, and no CacheManager entry that a LATER query
    * building the identical ε-graph could silently reuse, which would
    * be cross-query result memoization). `sym` is a narrow
    * double-projection of the pinned pair frame — materializing it
    * separately (the old eager localCheckpoint) paid an extra job.
    * Everything here is deterministic (exact dots, exact counts), so
    * cache-recompute safety is not a concern the way it is for the
    * nondeterministic-id frames GlobalRank pins. */
  private def dbscanGraph(emb: DataFrame, threshold: Double,
      minPts: Long): (DataFrame, DataFrame, DataFrame) = {
    val pairs = embeddingNearDup(emb, threshold)
      .select(col("vec_id_a"), col("vec_id_b"))
      .pinned()
    val sym = pairs
      .select(col("vec_id_a").as("v"), col("vec_id_b").as("nb"))
      .unionAll(pairs
        .select(col("vec_id_b").as("v"), col("vec_id_a").as("nb")))
    val deg = sym.groupBy("v").agg(count(lit(1)).as("k"))
    val roles = emb.select(col("vec_id").as("v"))
      .join(deg, Seq("v"), "left")
      .withColumn("k", coalesce(col("k"), lit(0L)))
      .withColumn("is_core", (col("k") >= minPts).cast("int"))
      .pinned()
    (pairs, sym, roles)
  }

  def dbscanCore(emb: DataFrame, threshold: Double = 0.3,
                 minPts: Long = 3L): DataFrame = {
    val (pairs, sym, roles) = dbscanGraph(emb, threshold, minPts)
    val coreNb = roles.filter(col("is_core") === 1)
      .select(col("v").as("nb"))
    val nearCore = sym.join(coreNb, Seq("nb"), "left_semi")
      .select(col("v")).distinct().withColumn("near_core", lit(1))
    val lab = roles.join(nearCore, Seq("v"), "left")
      .withColumn("near_core", coalesce(col("near_core"), lit(0)))
    val coreA = roles.filter(col("is_core") === 1)
      .select(col("v").as("vec_id_a"))
    val coreB = roles.filter(col("is_core") === 1)
      .select(col("v").as("vec_id_b"))
    val nCoreEdges = pairs
      .join(coreA, Seq("vec_id_a"), "left_semi")
      .join(coreB, Seq("vec_id_b"), "left_semi")
      .agg(count(lit(1)).as("n_core_edges"))
    lab.agg(count(lit(1)).as("n_points"),
        sum(col("is_core").cast("long")).as("n_core"),
        sum(when(col("is_core") === 0 && col("near_core") === 1, 1L)
          .otherwise(0L)).as("n_border"),
        sum(when(col("is_core") === 0 && col("near_core") === 0, 1L)
          .otherwise(0L)).as("n_noise"))
      .crossJoin(broadcast(nCoreEdges))
      .withColumn("min_pts", lit(minPts))
  }

  /** DBSCAN cluster census — the step after [[dbscanCore]]'s role scan:
    * core points take `rounds` of synchronous min-label propagation over
    * the CORE-CORE edge subgraph (labels start as the point's own id;
    * every round each core adopts the min of its own and its core
    * neighbours' labels), border points then attach to the smallest
    * adjacent core label. Bounded-round labels are the same documented
    * trade as q_bfs_hops / q_label_prop: after R rounds two cores more
    * than R hops apart may still carry different labels (a census row
    * each), but the result is deterministic and engine-mirrorable — a
    * full DBSCAN would iterate to convergence with
    * [[graft.ext.DedupCluster]]'s driver-checked loop. Every round is
    * one (edge ⋈ label) hash join + a min aggregate on the core frame —
    * nothing payload-sized moves. */
  def dbscanClusters(emb: DataFrame, threshold: Double = 0.3,
                     minPts: Long = 3L, rounds: Int = 3,
                     limit: Int = 20): DataFrame = {
    val (pairs, sym, roles) = dbscanGraph(emb, threshold, minPts)
    val coreIds = roles.filter(col("is_core") === 1).select(col("v"))
    val coreEdges = pairs
      .join(coreIds.select(col("v").as("vec_id_a")), Seq("vec_id_a"),
        "left_semi")
      .join(coreIds.select(col("v").as("vec_id_b")), Seq("vec_id_b"),
        "left_semi")
    // lazily pinned: read 2x per propagation round below. coreIds is a
    // mere filter of the pinned roles frame — cheap to re-derive, so it
    // is NOT separately pinned (the old per-frame eager localCheckpoints
    // cost a materialization job each).
    val coreSym = coreEdges
      .select(col("vec_id_a").as("v"), col("vec_id_b").as("nb"))
      .unionAll(coreEdges
        .select(col("vec_id_b").as("v"), col("vec_id_a").as("nb")))
      .pinned()
    // Each round references the previous label frame TWICE (as the join
    // probe and inside nbMin), so an unpinned loop would re-execute the
    // prior round 2x per level — lazy persist gives one compute per
    // round with no materialization job. Labels are deterministic (min
    // over exact ids), so a recompute can never change a value.
    var lbl = coreIds.withColumn("lbl", col("v"))
    for (_ <- 1 to rounds) {
      val nbMin = coreSym
        .join(lbl.select(col("v").as("nb"), col("lbl").as("nl")),
          Seq("nb"))
        .groupBy("v").agg(min(col("nl")).as("nmin"))
      lbl = lbl.join(nbMin, Seq("v"), "left")
        .select(col("v"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .pinned()
    }
    // border = non-core with ≥1 core neighbour; adopt the min adjacent
    // core label
    val borderAssign = roles.filter(col("is_core") === 0).select(col("v"))
      .join(sym, Seq("v"))
      .join(lbl.select(col("v").as("nb"), col("lbl").as("nl")), Seq("nb"))
      .groupBy("v").agg(min(col("nl")).as("lbl"))
    val members = lbl.withColumn("role", lit("core"))
      .unionAll(borderAssign.withColumn("role", lit("border")))
    members.groupBy("lbl")
      .agg(sum(when(col("role") === "core", 1L).otherwise(0L))
          .as("n_core"),
        sum(when(col("role") === "border", 1L).otherwise(0L))
          .as("n_border"),
        count(lit(1)).as("n_total"))
      .select(col("lbl").as("cluster"), col("n_core"), col("n_border"),
        col("n_total"))
      .orderBy(col("n_total").desc, col("cluster"))
      .limit(limit)
  }

  /** k-NN label classification: predict each query vector's label as the
    * majority label of its k nearest neighbors (cosine, reusing
    * [[bruteForceTopK]]'s exact ranking — same rounding, same id
    * tie-break). Vote ties break to the SMALLEST label, so the prediction
    * is deterministic regardless of aggregation order. The vote aggregate
    * runs over |queries|·k rows — trivially small next to the pair join
    * that produced them; at 100 TB swap the brute-force neighbor stage for
    * [[ivfTopK]] and this classifier head is unchanged. */
  def knnClassify(emb: DataFrame, k: Int = 5,
                  queryMod: Int = 10): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val votes = bruteForceTopK(emb, k, queryMod)
      .join(labels, col("neighbor_id") === col("vec_id"))
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("label"))
    val predicted = votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("votes"))
    predicted
      .join(labels.select(col("vec_id"), col("label").as("actual_label")),
        col("query_id") === col("vec_id"))
      .select(col("query_id"), col("actual_label"), col("predicted_label"),
        col("votes"))
      .orderBy("query_id")
  }

  /** Hard-negative mining: for each query vector, the top-`k` most
    * cosine-similar corpus vectors carrying a DIFFERENT label — the
    * contrastive-training staple (the negatives that are hard precisely
    * because the embedding ranks them high). Same exact-ranking contract
    * as [[bruteForceTopK]] (same norms-once layout, same 6dp rounding,
    * same id tie-break) with the label inequality applied BEFORE the
    * rank window, so rank k really is the k-th hardest negative. The
    * query side (vec_id % queryMod == 0) broadcasts with its labels; the
    * corpus is never shuffled except for the rank window on query_id.
    * This is the documented exact/oracle form — at 100 TB the candidate
    * stage swaps to [[ivfTopK]] buckets and this label-filtered head is
    * unchanged. */
  def hardNegatives(emb: DataFrame, k: Int = 5,
                    queryMod: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("label"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val q = withNorm.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val sims = withNorm.crossJoin(broadcast(q))
      .filter(col("label") =!= col("q_label"))
      .select(col("query_id"), col("q_label"),
        col("vec_id").as("neighbor_id"), col("label").as("n_label"),
        round(dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("nrm")), 6).as("sim"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Per-vector int8 affine quantization report: scale = (max−min)/255,
    * code_i = floor((x_i−min)/scale + 0.5) clamped to [0,255], and the
    * reconstruction MSE — the compression step of a quantized vector
    * index, with the error surfaced so a pipeline can gate on it. Pure
    * per-row projection (no shuffle, no state): at 100 TB this runs at
    * scan speed next to the index build. floor(z+0.5) replaces round()
    * because engines disagree on round-half modes; constant vectors
    * (scale 0) quantize to code 0 with zero error. */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val x = col("embedding")
    val mn = array_min(x).cast("double")
    val mx = array_max(x).cast("double")
    val scale = (mx - mn) / 255.0
    val codes = transform(x, v => when(scale === 0.0, 0.0)
      .otherwise(least(lit(255.0), greatest(lit(0.0),
        floor((v.cast("double") - mn) / scale + 0.5)))))
    val sqErr = zip_with(x, codes,
      (v, q) => { val deq = mn + q * scale
        (v.cast("double") - deq) * (v.cast("double") - deq) })
    emb.select(col("vec_id"),
        round(scale, 9).as("scale"),
        round(aggregate(sqErr, lit(0.0), (acc, e) => acc + e) /
          size(x), 9).as("mse"))
      .orderBy("vec_id")
  }

  /** Recall@k of the int8-quantized ranking against the exact cosine
    * ranking — the acceptance test run before swapping a float index for
    * a quantized one (the [[annRecall]] analog for [[quantizeInt8]]'s
    * compression). Each vector is dequantized ONCE (`mn + code·scale`,
    * the same per-row affine as quantizeInt8) into a double array; both
    * similarities then ride the native codegen'd dot on ONE pair join,
    * and the two rank windows share a single hash partitioning on
    * query_id (same Exchange, two sorts). Recall is one division over
    * exact integer counts: Σ hits / (k · |queries|). The quantized
    * reconstruction is pure double affine arithmetic, so DuckDB rebuilds
    * bit-identical vectors and the 6dp-rounded sims agree exactly. */
  def quantizeRecall(emb: DataFrame, k: Int = 10,
                     queryMod: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val x = col("embedding")
    val mn = array_min(x).cast("double")
    val mx = array_max(x).cast("double")
    val scale = (mx - mn) / 255.0
    val recon = when(scale === 0.0, transform(x, _ => mn)).otherwise(
      transform(x, v => mn + least(lit(255.0), greatest(lit(0.0),
        floor((v.cast("double") - mn) / scale + 0.5))) * scale))
    val staged = emb.select(col("vec_id"),
      transform(x, v => v.cast("double")).as("e"), recon.as("r"))
    val withN = staged.select(col("vec_id"), col("e"), col("r"),
      sqrt(dotD(col("e"), col("e"))).as("ne"),
      sqrt(dotD(col("r"), col("r"))).as("nr"))
    val q = withN.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("r").as("qr"), col("ne").as("qne"), col("nr").as("qnr"))
    val pairs = withN.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotD(col("e"), col("qe")) / (col("ne") * col("qne")), 6)
          .as("sim_e"),
        round(dotD(col("r"), col("qr")) / (col("nr") * col("qnr")), 6)
          .as("sim_r"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_e").desc, col("neighbor_id"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id"))
    pairs.withColumn("rk_e", row_number().over(we))
      .withColumn("rk_r", row_number().over(wr))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("rk_e") <= k && col("rk_r") <= k, 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") /
          (col("n_queries") * k), 6).as("recall"))
  }

  /** Recall@k of PREFIX-truncated embeddings against the full-dimension
    * cosine ranking — the Matryoshka acceptance test (Kusupati et al.
    * 2022, public MRL): an MRL-trained encoder packs coarse semantics
    * into the leading dimensions, so serving can keep only the first
    * `prefixDims` coordinates; this measures what that truncation costs
    * on THIS corpus before the index shrinks 4×. Same harness as
    * [[quantizeRecall]]: one pair join carries both similarities on the
    * native dot, the two rank windows share one hash partitioning on
    * query_id, recall is exact-integer Σ hits / (k·|queries|). Slicing
    * is positional, so DuckDB rebuilds identical prefixes and the
    * 6dp-rounded sims agree exactly. */
  def matryoshkaRecall(emb: DataFrame, prefixDims: Int = 16, k: Int = 10,
                      queryMod: Int = 10): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val e = transform(col("embedding"), v => v.cast("double"))
    val staged = emb.select(col("vec_id"), e.as("e"),
      slice(e, 1, prefixDims).as("r"))
    val withN = staged.select(col("vec_id"), col("e"), col("r"),
      sqrt(dotD(col("e"), col("e"))).as("ne"),
      sqrt(dotD(col("r"), col("r"))).as("nr"))
    val q = withN.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("r").as("qr"), col("ne").as("qne"), col("nr").as("qnr"))
    val pairs = withN.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotD(col("e"), col("qe")) / (col("ne") * col("qne")), 6)
          .as("sim_e"),
        round(dotD(col("r"), col("qr")) / (col("nr") * col("qnr")), 6)
          .as("sim_r"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_e").desc, col("neighbor_id"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_r").desc, col("neighbor_id"))
    pairs.withColumn("rk_e", row_number().over(we))
      .withColumn("rk_r", row_number().over(wr))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("rk_e") <= k && col("rk_r") <= k, 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") /
          (col("n_queries") * k), 6).as("recall"))
  }

  /** Random-hyperplane LSH bucketing: `nBits` sign bits of dot products
    * with pseudo-random planes derived deterministically from portable
    * (bit, dim) hashes — no RNG state, reproducible across runs AND
    * engines (DuckDB regenerates the identical planes from md5; see the
    * q_lsh_buckets oracle). Native expression: one fused loop per row. */
  def lshBuckets(emb: DataFrame, nBits: Int = 12): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    emb.select(col("vec_id"),
      graft.plans.VectorOps.lsh_bucket(col("embedding"), nBits).as("bucket"))
  }

  /** NDCG@k of the brute-force cosine ranking, scored against the label
    * column as binary relevance — the ranking-quality eval that closes
    * the retrieval loop (recall@k exists as q_ann_recall; NDCG adds
    * position weighting). Discounts use natural log (the log-base
    * constant cancels in the DCG/IDCG ratio), each per-rank term is an
    * IEEE-identical double, and the per-query sum routes through DECIMAL.
    * The ideal DCG folds a k-length sequence left-to-right — Spark
    * `aggregate` ≡ DuckDB `list_reduce`, both strict left folds. Costs
    * one top-k pass plus two label joins; the per-query frame is
    * |Q| rows. */
  def ndcgAtK(emb: DataFrame, k: Int = 10, queryMod: Int = 10): DataFrame = {
    val topk = bruteForceTopK(emb, k, queryMod)
    val labels = emb.select(col("vec_id"), col("label"))
    val qLab = labels.select(col("vec_id").as("query_id"),
      col("label").as("q_label"))
    val nLab = labels.select(col("vec_id").as("neighbor_id"),
      col("label").as("n_label"))
    val classCounts = labels.groupBy(col("label").as("q_label"))
      .agg(count(lit(1)).as("n_class"))
    val perQuery = topk.join(qLab, Seq("query_id"))
      .join(nLab, Seq("neighbor_id"))
      .groupBy("query_id", "q_label")
      .agg(
        sum(when(col("q_label") === col("n_label"),
          lit(1.0) / log(col("rank").cast("double") + lit(1.0)))
          .otherwise(lit(0.0)).cast("decimal(28,12)")).cast("double")
          .as("dcg"),
        sum(when(col("q_label") === col("n_label"), 1L).otherwise(0L))
          .as("hits"))
      .join(classCounts, Seq("q_label"))
    val m = least(lit(k), col("n_class") - 1)
    val idcg = when(m >= 1,
      aggregate(transform(sequence(lit(1), m),
        i => lit(1.0) / log(i.cast("double") + lit(1.0))),
        lit(0.0), (acc, t) => acc + t)).otherwise(lit(0.0))
    perQuery.select(col("query_id"), col("hits"), col("n_class"),
        round(col("dcg"), 6).as("dcg"),
        round(idcg, 6).as("idcg"),
        when(idcg > 0, round(col("dcg") / idcg, 6)).otherwise(lit(0.0))
          .as("ndcg"))
      .orderBy("query_id")
  }

  /** Mean reciprocal rank at k — the third leg of the retrieval-eval
    * triad beside recall@k (annRecall/quantizeRecall) and NDCG
    * (ndcgAtK): how early the FIRST same-label neighbour appears in each
    * query's ranking, averaged over queries (the metric of record for
    * known-item search / RAG retrievers where one good hit suffices).
    * rr = 1/rank of the first relevant in the top-k, 0 when none lands.
    *
    * Determinism: first_rel is an integer min over the (already
    * 6dp-rounded, tie-broken) bruteForceTopK ranks; the mean accumulates
    * DECIMAL-cast reciprocals of integers. Scale shape: rides the same
    * broadcast-query / corpus-never-shuffles top-k as its siblings; the
    * per-query reduction is a map-side-combined min, the summary a
    * one-row aggregate. */
  def mrrAtK(emb: DataFrame, k: Int = 10, queryMod: Int = 10): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val perQuery = bruteForceTopK(emb, k, queryMod)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy("query_id")
      .agg(min(when(col("q_label") === col("n_label"), col("rank")))
        .as("first_rel"))
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      sum(when(col("first_rel").isNotNull, 1L).otherwise(0L))
        .as("n_with_hit"),
      round(sum(coalesce(lit(1.0) / col("first_rel"), lit(0.0))
          .cast("decimal(28,12)")).cast("double") / count(lit(1)), 6)
        .as("mrr"))
  }

  /** Mean average precision at k — the list-quality leg of the
    * retrieval-eval suite beside recall@k (one-hit coverage), NDCG
    * (graded positions), and MRR (first hit): AP@k credits EVERY
    * relevant neighbour by the precision at its rank,
    * AP = Σ_{hit at rank r} P@r / min(R, k) with R the query's total
    * relevant corpus count (same label, excluding itself). MAP averages
    * over queries.
    *
    * Determinism: P@r = hits_upto/r is an exact-integer IEEE division
    * over the tie-broken bruteForceTopK ranking; per-hit terms and the
    * per-query APs fold through DECIMAL. Scale shape: same
    * broadcast-query / corpus-never-shuffles top-k as the siblings; the
    * running-hit window spans ≤ k rows per query; the label-count frame
    * is label-cardinality and broadcast. */
  def mapAtK(emb: DataFrame, k: Int = 10, queryMod: Int = 10): DataFrame = {
    val labels = emb.select(col("vec_id"), col("label"))
    val labCounts = labels.groupBy("label").agg(count(lit(1)).as("n_lab"))
    val w = Window.partitionBy("query_id").orderBy("rank")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = bruteForceTopK(emb, k, queryMod)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("q_label")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .withColumn("rel", (col("q_label") === col("n_label")).cast("int"))
      .withColumn("hits_upto", sum(col("rel")).over(w))
    val perQuery = scored.groupBy("query_id", "q_label")
      .agg(sum(when(col("rel") === 1,
          col("hits_upto").cast("double") / col("rank").cast("double"))
          .otherwise(lit(0.0)).cast("decimal(28,12)")).as("ap_num"),
        sum(col("rel").cast("long")).as("n_hits"))
      .join(broadcast(labCounts), col("q_label") === col("label"))
      .withColumn("denom",
        least(col("n_lab") - lit(1L), lit(k.toLong)))
      .withColumn("ap", when(col("denom") > 0,
        col("ap_num").cast("double") / col("denom").cast("double"))
        .otherwise(lit(0.0)))
    perQuery.agg(count(lit(1)).as("n_queries"),
      sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_with_hit"),
      r6(sum(col("ap").cast("decimal(28,12)")).cast("double") /
        count(lit(1)).cast("double")).as("map"))
  }

  /** Top principal direction of the embedding cloud by power iteration on
    * the (uncentered) d×d Gram matrix — PCA's workhorse as a relational
    * loop, the linear-algebra sibling of [[kmeansIterate]]. The ONLY
    * data-sized stage is the Gram build: each row contributes its d²
    * outer-product cells and partial aggregation collapses every partition
    * to ≤d² cells before the shuffle, so the moved data is
    * partitions·d² regardless of corpus size — the 100 TB shape. The
    * iteration itself runs on the d²-row Gram and the d-row vector
    * (broadcast), with localCheckpoint pinning each round's plan.
    * Numerics: every sum (Gram cells, matrix·vector, norm) routes through
    * DECIMAL so it is order-independent, and the per-term double products
    * are IEEE-identical in DuckDB — the whole trajectory, including the
    * eigenvector's sign, is bit-reproducible cross-engine. */
  def powerIteration(emb: DataFrame, dim: Int = 64,
                     iters: Int = 4): DataFrame =
    topEigen(gramMatrix(emb), emb.sparkSession, dim, iters)
      .select(col("j").cast("bigint").as("dim_id"),
        round(col("vj"), 6).as("loading"),
        round(col("nrm"), 6).as("eigenvalue"))
      .orderBy("dim_id")

  /** The n·d² second-moment (gram) fold shared by [[powerIteration]] and
    * [[pcaTop2]]: cell terms as SCALED LONGS, not decimals — the
    * outer-product stream is the one data-sized stage, and a primitive
    * long sum stays in whole-stage codegen (~6× over 128-bit decimal
    * accumulation) while remaining order-independent. floor(z+0.5) is
    * the portable round-half-up both engines evaluate identically. */
  private def gramMatrix(emb: DataFrame): DataFrame =
    emb.select(col("embedding").cast("array<double>").as("e"))
      .select(posexplode(col("e")).as(Seq("i", "xi")), col("e"))
      .select(col("i"), col("xi"), posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg((sum(floor(col("xi") * col("xj") * lit(1e12) + lit(0.5))
        .cast("bigint")).cast("double") / lit(1e12)).as("a"))
      .pinned()

  /** `iters` power-iteration rounds from the all-ones start over a
    * dim²-bounded (i, j, a) matrix frame → (j, vj, nrm); after
    * normalization ‖v‖=1, so the final pre-normalization norm IS the
    * Rayleigh-quotient estimate of the top eigenvalue. */
  private def topEigen(gram: DataFrame, spark: SparkSession, dim: Int,
                       iters: Int): DataFrame = {
    def dsum(c: Column) =
      sum(c.cast("decimal(28,12)")).cast("double")
    var v = spark.range(dim)
      .select(col("id").cast("int").as("j"), lit(1.0).as("vj"),
        lit(0.0).as("nrm"))
    for (_ <- 1 to iters) {
      val w = gram.join(broadcast(v.select(col("j"), col("vj"))), Seq("j"))
        .groupBy("i")
        .agg(dsum(col("a") * col("vj")).as("wi"))
      val nrm = w.agg(
        sqrt(dsum(col("wi") * col("wi"))).as("nrm"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), (col("wi") / col("nrm")).as("vj"),
          col("nrm"))
        .pinned()
    }
    v
  }

  /** Top-2 PCA of the embedding second-moment matrix via DEFLATED power
    * iteration — the planar projection behind embedding-space maps and
    * the first step past [[embeddingEffectiveRank]]'s single collapse
    * scalar: extract (v₁, λ₁) with [[topEigen]], deflate
    * A′ = A − λ₁·v₁v₁ᵀ on the dim²-bounded matrix frame (two broadcast
    * joins of the d-row eigenvector — nothing data-sized moves), and
    * re-run the same iteration on A′ for (v₂, λ₂). Every arithmetic
    * step is the proven powerIteration discipline (scaled-long gram,
    * DECIMAL mat-vec folds, fixed iteration count), so both eigenpairs
    * are bit-identical across engines and partition orders; the output
    * also carries λ₂/λ₁ (the planarity ratio) per row.
    *
    * Scale shape: ONE corpus pass builds the gram; everything after is
    * dim²-bounded algebra — at 100 TB only the gram fold grows. */
  def pcaTop2(emb: DataFrame, dim: Int = 64, iters: Int = 4): DataFrame = {
    val spark = emb.sparkSession
    val gram = gramMatrix(emb)
    val e1 = topEigen(gram, spark, dim, iters).pinned()
    val deflated = gram
      .join(broadcast(e1.select(col("j").as("i"), col("vj").as("vi"))),
        Seq("i"))
      .join(broadcast(e1.select(col("j"), col("vj").as("vjd"),
        col("nrm").as("l1"))), Seq("j"))
      .select(col("i"), col("j"),
        (col("a") - col("l1") * col("vi") * col("vjd")).as("a"))
      .pinned()
    val e2 = topEigen(deflated, spark, dim, iters)
      .select(col("j"), col("vj").as("vj2"), col("nrm").as("nrm2"))
    e1.join(e2, Seq("j"))
      .select(col("j").cast("bigint").as("dim_id"),
        round(col("vj"), 6).as("loading_1"),
        round(col("vj2"), 6).as("loading_2"),
        round(col("nrm"), 6).as("eigenvalue_1"),
        round(col("nrm2"), 6).as("eigenvalue_2"),
        r6(col("nrm2") / col("nrm")).as("lambda_ratio"))
      .orderBy("dim_id")
  }

  /** k-center greedy coreset selection over the embedding corpus
    * (Gonzalez 1985 farthest-point traversal; Sener & Savarese 2018's
    * active-learning coreset): each round picks the point FARTHEST
    * (cosine distance over 6dp-rounded sims) from everything selected so
    * far, so the chosen set 2-approximates the optimal k-center cover and
    * `radius` traces the covering radius as it falls — the diversity-
    * first subset selector a curation pipeline uses to seed eval panels
    * (complements mmrSelect, which diversifies a RELEVANCE pool; this
    * covers the whole corpus). Seed = min vec_id, ties by smallest id —
    * fully deterministic on any engine.
    *
    * Scale shape: the min-distance-to-selected state is INCREMENTAL —
    * round r touches the corpus once with a ONE-row broadcast (the
    * newest center), updates `mind` via a narrow `least` projection, and
    * takes the argmax with a map-side-combining max_by (one pre-reduced
    * row per partition feeds the 1-row aggregate; no corpus shuffle, no
    * window, no pairwise matrix anywhere). k rounds = k corpus map
    * passes, the textbook farthest-point schedule; state is
    * localCheckpointed per round so lineage stays flat. */
  def kCenterGreedy(emb: DataFrame, k: Int = 4): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val corpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dotD(col("e"), col("e"))))
      .pinned()
    val seed = corpus.orderBy("vec_id").limit(1).pinned()
    var state = corpus.crossJoin(broadcast(
        seed.select(col("e").as("ce"), col("nrm").as("cn"))))
      .select(col("vec_id"), col("e"), col("nrm"),
        (lit(1.0) - round(dotD(col("e"), col("ce")) /
          (col("nrm") * col("cn")), 6)).as("mind"))
      .pinned()
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    picks += seed.select(lit(1L).as("sel_rank"), col("vec_id"),
      lit(null).cast("double").as("radius"))
    for (r <- 2 to k) {
      val pick = state.agg(max_by(
          struct(col("vec_id"), col("mind")),
          struct(col("mind"), (-col("vec_id")).as("nid"))).as("p"))
        .select(col("p.vec_id").as("vec_id"), col("p.mind").as("mind"))
        .pinned()
      picks += pick.select(lit(r.toLong).as("sel_rank"), col("vec_id"),
        round(col("mind"), 6).as("radius"))
      if (r < k) {
        val newC = corpus
          .join(broadcast(pick.select("vec_id")), Seq("vec_id"))
          .select(col("e").as("ce"), col("nrm").as("cn"))
        state = state.crossJoin(broadcast(newC))
          .select(col("vec_id"), col("e"), col("nrm"),
            least(col("mind"),
              lit(1.0) - round(dotD(col("e"), col("ce")) /
                (col("nrm") * col("cn")), 6)).as("mind"))
          .pinned()
      }
    }
    picks.reduce(_ unionAll _).orderBy("sel_rank")
  }

  /** Product-quantization recall gate — the acceptance test for the
    * memory-side of a 100 TB ANN index (PQ is what makes billion-vector
    * serving fit in RAM: 64 float dims → `subspaces` uint8 codes).
    * Codebooks are deterministic "training": the subvectors of the
    * `codes` lowest-id vectors. Assignment is an L2 argmin per
    * (vector × subspace) against the broadcast codebook — the distance
    * is 6-dp-rounded before the argmin with a code-id tiebreak (the
    * kmeansRefine convention), so sub-ulp engine differences cannot
    * flip a code. Scoring is the asymmetric (ADC) scan: exact query
    * against reconstructed corpus, ranked beside the exact ranking in
    * the same [[quantizeRecall]] harness — one pair join carries both
    * sims, two rank windows share one partitioning, recall is exact
    * integers. At scale the corpus never shuffles for assignment (the
    * codebook broadcasts) and the scan ships codes, not floats. */
  def pqRecall(emb: DataFrame, k: Int = 10, queryMod: Int = 10,
               subspaces: Int = 4, codes: Int = 16): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val dims = 64 / subspaces
    val e = transform(col("embedding"), v => v.cast("double"))
    val base = emb.select(col("vec_id"), e.as("e"))
    val cb0 = base.orderBy("vec_id").limit(codes)
      .withColumn("cid", row_number().over(Window.orderBy("vec_id")) - 1)
    val ms = explode(sequence(lit(0), lit(subspaces - 1))).as("m")
    val cb = cb0.select(col("cid"), col("e"), ms)
      .select(col("m"), col("cid"),
        slice(col("e"), col("m") * dims + 1, lit(dims)).as("cent"))
    val subs = base.select(col("vec_id"), col("e"), ms)
      .select(col("vec_id"), col("m"),
        slice(col("e"), col("m") * dims + 1, lit(dims)).as("sub"))
    val dvec = zip_with(col("sub"), col("cent"), (a, b) => a - b)
    val assign = subs.join(broadcast(cb), Seq("m"))
      .select(col("vec_id"), col("m"), col("cid"),
        col("cent"), round(dotD(dvec, dvec), 6).as("d2"))
      .groupBy("vec_id", "m")
      .agg(min_by(col("cent"), struct(col("d2"), col("cid"))).as("cent"))
    val recon = assign.groupBy("vec_id").agg(
      concat((0 until subspaces).map(i =>
        max(when(col("m") === i, col("cent")))): _*).as("r"))
    val withN = base.join(recon, Seq("vec_id"))
      .select(col("vec_id"), col("e"), col("r"),
        sqrt(dotD(col("e"), col("e"))).as("ne"),
        sqrt(dotD(col("r"), col("r"))).as("nr"))
    val q = withN.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("ne").as("qne"))
    val pairs = withN.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dotD(col("e"), col("qe")) / (col("ne") * col("qne")), 6)
          .as("sim_e"),
        round(dotD(col("r"), col("qe")) / (col("nr") * col("qne")), 6)
          .as("sim_adc"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_e").desc, col("neighbor_id"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("sim_adc").desc, col("neighbor_id"))
    pairs.withColumn("rk_e", row_number().over(we))
      .withColumn("rk_a", row_number().over(wa))
      .agg(countDistinct(col("query_id")).as("n_queries"),
        sum(when(col("rk_e") <= k && col("rk_a") <= k, 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("n_queries"), col("n_hits"),
        round(col("n_hits").cast("double") /
          (col("n_queries") * k), 6).as("recall"))
  }

  /** Embedding-space isotropy audit (Ethayarajh 2019; Mu & Viswanath's
    * all-but-the-top diagnosis): the mean pairwise cosine of the whole
    * corpus — exact up to the documented 1e-12 scaled-long coordinate
    * quantization (the powerIteration wording; ssu sums quantized unit
    * coordinates, so subtracting exactly n for the self-dot terms
    * carries that same tiny bias) — computed with ZERO pairs via the
    * sum-vector identity
    * Σ_{i≠j} uᵢ·uⱼ = ‖Σu‖² − Σ‖u‖² (= ‖Σu‖² − n for unit vectors), plus
    * the mean-vector share ‖μ‖²/E‖x‖² — how much of the embedding mass
    * is one common direction. Anisotropic spaces (mean cosine ≫ 0) make
    * raw cosine similarity scores incomparable across queries; this is
    * the one-row report that says whether to center before the ANN ops.
    *
    * Scale shape: ONE corpus pass emits per-dimension partial sums of
    * the raw and unit-normalized vectors (posexplode to a dim-bounded
    * frame, map-side combined, scaled-long folds — the powerIteration
    * discipline) alongside the scalar norms; everything after is
    * dim-bounded arithmetic. No pair ever materializes at any scale. */
  def embeddingIsotropy(emb: DataFrame, dim: Int = 64): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val base = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .withColumn("nrm", sqrt(dotD(col("e"), col("e"))))
      .pinned() // scalar pass and per-dim pass share it
    def dec(c: Column) = c.cast("decimal(38,12)")
    val scalars = base.agg(count(lit(1)).as("n"),
      sum(dec(col("nrm") * col("nrm"))).cast("double").as("ss"),
      sum(dec(col("nrm"))).cast("double").as("sn"))
    // per-dimension sums as scaled longs (see powerIteration: primitive
    // long accumulation is order-independent AND stays in codegen)
    val dims = base
      .select(posexplode(col("e")).as(Seq("i", "xi")), col("nrm"))
      .groupBy("i")
      .agg((sum(floor(col("xi") * lit(1e12) + lit(0.5)).cast("bigint"))
          .cast("double") / lit(1e12)).as("sx"),
        (sum(floor(col("xi") / col("nrm") * lit(1e12) + lit(0.5))
          .cast("bigint")).cast("double") / lit(1e12)).as("su"))
    val vec = dims.agg(
      sum(dec(col("sx") * col("sx"))).cast("double").as("ssx"),
      sum(dec(col("su") * col("su"))).cast("double").as("ssu"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    scalars.crossJoin(broadcast(vec))
      .select(col("n").as("n_vectors"), lit(dim.toLong).as("dim"),
        r6(col("sn") / n).as("mean_norm"),
        r6((col("ssu") - n) / (n * (n - lit(1.0)))).as("mean_cosine"),
        r6((col("ssx") / (n * n)) / (col("ss") / n))
          .as("center_mass_share"))
  }

  /** Linear-kernel MMD two-cohort drift test over embeddings — the
    * representation-drift statistic between the label-derived cohorts
    * (here label < 5 vs ≥ 5; in production, yesterday's batch vs
    * today's): MMD²_linear = ‖μ_A − μ_B‖², computed entirely from
    * per-dimension partial sums — the [[embeddingIsotropy]] zero-pair
    * discipline, so the test costs one corpus pass at ANY scale where a
    * kernel-matrix MMD would cost |A|·|B| pairs. Per-cohort mean norms
    * ship alongside (a norm shift is drift too, and ‖μ‖ alone can miss
    * it). */
  def embeddingDrift(emb: DataFrame, labelSplit: Int = 5): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val base = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"),
        (col("label") < labelSplit).cast("int").as("a"))
      .withColumn("nrm", sqrt(dotD(col("e"), col("e"))))
      .pinned() // scalar pass and per-dim pass share it
    def dec(c: Column) = c.cast("decimal(38,12)")
    val scalars = base.groupBy("a")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("nrm"))).cast("double").as("sn"))
    val dims = base
      .select(col("a"), posexplode(col("e")).as(Seq("i", "xi")))
      .groupBy("a", "i")
      .agg((sum(floor(col("xi") * lit(1e12) + lit(0.5)).cast("bigint"))
        .cast("double") / lit(1e12)).as("sx"))
    def d(c: Column) = c.cast("double")
    val wide = dims.groupBy("i")
      .agg(sum(when(col("a") === 1, col("sx")).otherwise(0.0)).as("sxa"),
        sum(when(col("a") === 0, col("sx")).otherwise(0.0)).as("sxb"))
    val ns = scalars.agg(
      sum(when(col("a") === 1, col("n")).otherwise(0L)).as("na"),
      sum(when(col("a") === 0, col("n")).otherwise(0L)).as("nb"),
      sum(when(col("a") === 1, dec(col("sn"))).otherwise(lit(null)
        .cast("decimal(38,12)"))).cast("double").as("sna"),
      sum(when(col("a") === 0, dec(col("sn"))).otherwise(lit(null)
        .cast("decimal(38,12)"))).cast("double").as("snb"))
    val mmd = wide.crossJoin(broadcast(ns))
      .select(dec((col("sxa") / d(col("na")) - col("sxb") / d(col("nb")))
        * (col("sxa") / d(col("na")) - col("sxb") / d(col("nb"))))
        .as("t"), col("na"), col("nb"), col("sna"), col("snb"))
    mmd.groupBy("na", "nb", "sna", "snb")
      .agg(sum(col("t")).cast("double").as("mmd2"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        r6(col("mmd2")).as("mmd2_linear"),
        r6(sqrt(col("mmd2"))).as("mean_shift"),
        r6(col("sna") / d(col("na"))).as("mean_norm_a"),
        r6(col("snb") / d(col("nb"))).as("mean_norm_b"))
  }

  /** Effective rank of the CENTERED embedding second-moment (covariance)
    * matrix — erank = tr(C)²/‖C‖²_F = (Σλ)²/Σλ², the participation-ratio
    * spectrum summary (Roy & Vetterli 2007): dim means the space is
    * isotropic, ≪ dim means representation collapse onto few directions
    * — THE cheap embedding-health scalar beside [[embeddingIsotropy]]'s
    * mean cosine. C comes from the dim²-bounded gram fold
    * ([[powerIteration]]'s scaled-long discipline) minus the broadcast
    * mean outer product; no eigendecomposition, no pairs. */
  def effectiveRank(emb: DataFrame, dim: Int = 64): DataFrame = {
    val xs = emb.select(col("embedding").cast("array<double>").as("e"))
      .pinned() // the gram pass and the mean pass share it
    val gram = xs
      .select(posexplode(col("e")).as(Seq("i", "xi")), col("e"))
      .select(col("i"), col("xi"),
        posexplode(col("e")).as(Seq("j", "xj")))
      .groupBy("i", "j")
      .agg((sum(floor(col("xi") * col("xj") * lit(1e12) + lit(0.5))
        .cast("bigint")).cast("double") / lit(1e12)).as("g"))
    val means = xs
      .select(posexplode(col("e")).as(Seq("i", "xi")))
      .groupBy("i")
      .agg((sum(floor(col("xi") * lit(1e12) + lit(0.5)).cast("bigint"))
        .cast("double") / lit(1e12)).as("sx"))
      .pinned() // joined twice below (row mean and col mean)
    val n = xs.agg(count(lit(1)).as("n"))
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(38,12)")
    // C_ij = G_ij/n − μ_i·μ_j with μ from the same quantized sums
    val cells = gram
      .join(means.select(col("i"), col("sx").as("si")), Seq("i"))
      .join(means.select(col("i").as("j"), col("sx").as("sj")), Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("g") / d(col("n")) -
          (col("si") / d(col("n"))) * (col("sj") / d(col("n"))))
          .as("c"))
    cells.agg(
        sum(when(col("i") === col("j"), dec(col("c")))
          .otherwise(lit(null).cast("decimal(38,12)"))).cast("double")
          .as("tr"),
        sum(dec(col("c") * col("c"))).cast("double").as("f2"))
      .crossJoin(broadcast(n))
      .select(col("n").as("n_vectors"), lit(dim.toLong).as("dim"),
        r6(col("tr")).as("trace"),
        r6(col("tr") * col("tr") / col("f2")).as("effective_rank"))
  }

  /** Clustering-vs-label agreement: purity and normalized mutual
    * information of the IVF-seed nearest-centroid assignment
    * ([[kmeansRefine]]'s argmax, identical tie-breaks) against the
    * embedding labels — the supervised clustering eval beside the
    * unsupervised [[silhouetteProxy]]. Entropies and the MI sum are
    * exact count-based DECIMAL folds over the (cluster × label)-bounded
    * contingency; NMI = I(C;L)/√(H(C)·H(L)) with the 0/0 → 0 convention
    * on degenerate partitions. */
  def clusterLabelAgreement(emb: DataFrame,
                            centroidMod: Int = 40): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      col("label"), l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("label"), col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("label"), col("centroid_id"))
      .select(col("best.centroid_id").as("c"), col("best.label").as("l"))
    val cont = assigned.groupBy("c", "l").agg(count(lit(1)).as("n"))
      .pinned() // margins and the MI fold all read it
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(38,12)")
    val tot = cont.agg(sum(col("n")).as("nn"))
    val hc = cont.groupBy("c").agg(sum(col("n")).as("nc"))
      .crossJoin(broadcast(tot))
      .agg(sum(dec(-(d(col("nc")) / d(col("nn"))) *
        log(d(col("nc")) / d(col("nn"))))).cast("double").as("h_c"))
    val hl = cont.groupBy("l").agg(sum(col("n")).as("nl"))
      .crossJoin(broadcast(tot))
      .agg(sum(dec(-(d(col("nl")) / d(col("nn"))) *
        log(d(col("nl")) / d(col("nn"))))).cast("double").as("h_l"))
    val purity = cont.groupBy("c").agg(max(col("n")).as("mx"))
      .agg(sum(col("mx")).as("smx"))
    val mi = cont
      .join(cont.groupBy("c").agg(sum(col("n")).as("nc")), "c")
      .join(cont.groupBy("l").agg(sum(col("n")).as("nl")), "l")
      .crossJoin(broadcast(tot))
      .agg(sum(dec((d(col("n")) / d(col("nn"))) *
        log(d(col("n")) * d(col("nn")) /
          (d(col("nc")) * d(col("nl")))))).cast("double").as("mi"))
    tot.crossJoin(broadcast(purity)).crossJoin(broadcast(hc))
      .crossJoin(broadcast(hl)).crossJoin(broadcast(mi))
      .select(col("nn").as("n_vectors"),
        r6(d(col("smx")) / d(col("nn"))).as("purity"),
        r6(col("mi")).as("mutual_info"),
        r6(col("h_c")).as("h_cluster"), r6(col("h_l")).as("h_label"),
        r6(when(col("h_c") > 0.0 && col("h_l") > 0.0,
          col("mi") / sqrt(col("h_c") * col("h_l"))).otherwise(lit(0.0)))
          .as("nmi"))
  }

  /** Internal cluster-validity pair for the IVF assignment —
    * Calinski–Harabasz (between/within variance ratio; higher = crisper)
    * and Davies–Bouldin (mean worst-pair overlap; lower = crisper) —
    * the geometry-side complements of [[silhouette]] (point-level) and
    * [[clusterLabelAgreement]] (label-level). Both reduce EXACTLY to
    * per-cluster per-dimension sums: W_k = Σ‖x‖² − ‖Σx‖²/n_k,
    * B = Σ_k ‖Σx‖²/n_k − ‖Σ_global x‖²/N, centroid distances from the
    * per-dim mean differences, and the DB scatter s_k = √(W_k/n_k)
    * (the centroid-diameter variant — stated; the mean-absolute-radius
    * variant needs a second per-point pass for no audit benefit).
    * Assignment is the house cosine-argmax to vec_id%40 seeds; the
    * validity geometry is Euclidean (stated).
    *
    * Scale shape: one broadcast assignment fan-out, one (cluster, dim)
    * aggregate; everything after — including the cluster-pair distance
    * walk — is K²·dim-bounded. */
  def clusterValidity(emb: DataFrame, centroidMod: Int = 40): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e"),
      sqrt(dotD(col("embedding").cast("array<double>"),
        col("embedding").cast("array<double>"))).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"), col("e").as("ce"),
        col("nrm").as("cn"))
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("e"), col("nrm"), col("centroid_id"),
          round(dotD(col("e"), col("ce")) / (col("nrm") * col("cn")), 6)
            .as("c_sim")),
      col("e"), col("nrm"), col("centroid_id"))
      .select(col("best.centroid_id").as("c"), col("best.e").as("e"),
        col("best.nrm").as("nrm"))
    def dz(c: Column) = c.cast("decimal(38,12)")
    def d(c: Column) = c.cast("double")
    // per-(cluster, dim) coordinate sums + per-cluster scalar moments
    val cd = assigned
      .select(col("c"), col("nrm"), posexplode(col("e")).as(Seq("i", "xi")))
      .groupBy("c", "i")
      .agg(sum(dz(col("xi"))).cast("double").as("sxi"))
      .pinned() // cluster folds + global fold + pair walk
    val perC = assigned.groupBy("c")
      .agg(count(lit(1)).as("nk"),
        sum(dz(col("nrm") * col("nrm"))).cast("double").as("ssq"))
    val s2 = cd.groupBy("c")
      .agg(sum(dz(col("sxi") * col("sxi"))).cast("double").as("s2"))
    val clusters = perC.join(s2, "c")
      .select(col("c"), col("nk"), col("ssq"), col("s2"),
        (col("ssq") - col("s2") / d(col("nk"))).as("wk"),
        sqrt(greatest((col("ssq") - col("s2") / d(col("nk"))) /
          d(col("nk")), lit(0.0))).as("sk"))
      .pinned() // CH fold + both pair-walk sides
    val globalDim = cd.groupBy("i")
      .agg(sum(dz(col("sxi"))).cast("double").as("gx"))
      .agg(sum(dz(col("gx") * col("gx"))).cast("double").as("g2"))
    val tot = clusters.agg(count(lit(1)).as("kk"), sum(col("nk")).as("nn"),
      sum(dz(col("wk"))).cast("double").as("w_tot"),
      sum(dz(col("s2") / d(col("nk")))).cast("double").as("bplus"))
    // cluster-pair centroid distances from per-dim mean differences
    val mj = cd.join(broadcast(clusters.select(col("c"), col("nk"))), "c")
      .select(col("c"), col("i"), (col("sxi") / d(col("nk"))).as("mu"))
    val pairD = mj.select(col("c").as("ca"), col("i"), col("mu").as("ma"))
      .join(mj.select(col("c").as("cb"), col("i"), col("mu").as("mb")),
        Seq("i"))
      .filter(col("ca") =!= col("cb"))
      .groupBy("ca", "cb")
      .agg(sqrt(greatest(sum(dz((col("ma") - col("mb")) *
        (col("ma") - col("mb")))).cast("double"), lit(0.0))).as("dij"))
    val dbPer = pairD
      .join(broadcast(clusters.select(col("c").as("ca"),
        col("sk").as("sa"))), Seq("ca"))
      .join(broadcast(clusters.select(col("c").as("cb"),
        col("sk").as("sb"))), Seq("cb"))
      .select(col("ca"), col("cb"),
        ((col("sa") + col("sb")) /
          when(col("dij") =!= 0.0, col("dij")).otherwise(lit(1.0)))
          .as("rij"),
        (col("dij") =!= 0.0).as("okp"))
      .groupBy("ca")
      // dij = 0 pairs (coincident centroids, maximal overlap) are
      // DEGENERATE, not best-separated: skip them in the max but count
      // each unordered pair once into the surfaced flag column
      .agg(max(when(col("okp"), col("rij")).otherwise(lit(0.0)))
        .as("ri"),
        sum(when(!col("okp") && col("ca") < col("cb"), 1L)
          .otherwise(0L)).as("degi"))
      .agg(count(lit(1)).as("kdb"),
        sum(dz(col("ri"))).cast("double").as("sri"),
        sum(col("degi")).as("deg_pairs"))
    val nD = d(col("nn"))
    val kD = d(col("kk"))
    val b = col("bplus") - col("g2") / nD
    val okCh = col("kk") > 1L && col("nn") > col("kk") &&
      col("w_tot") > 0.0
    val wDiv = when(col("w_tot") =!= 0.0, col("w_tot")).otherwise(lit(1.0))
    val ch = (b / (kD - lit(1.0))) /
      (wDiv / (nD - kD))
    tot.crossJoin(broadcast(dbPer)).crossJoin(broadcast(globalDim))
      .select(col("nn").as("n_vectors"), col("kk").as("n_clusters"),
        r6(col("w_tot")).as("within_ss"),
        r6(greatest(b, lit(0.0))).as("between_ss"),
        r6(when(okCh, ch).otherwise(lit(0.0))).as("calinski_harabasz"),
        // kk = 1 → no pairs → sri aggregates to null; guard to 0
        r6(when(col("kk") > 1L,
          coalesce(col("sri"), lit(0.0)) /
            d(greatest(col("kdb"), lit(1L)))).otherwise(lit(0.0)))
          .as("davies_bouldin"),
        coalesce(col("deg_pairs"), lit(0L)).as("degenerate_pairs"))
  }

  /** Whitening effectiveness audit — does per-dimension standardization
    * (x−μ)/σ cure the anisotropy [[embeddingIsotropy]] measures?
    * Embedding spaces collapse toward a common direction (Ethayarajh
    * 2019), which wrecks cosine retrieval; whitening is the standard
    * cheap fix, and this op prices it: the EXACT mean pairwise cosine
    * (the zero-pair sum-vector identity — never a pair join) before and
    * after whitening, plus the improvement. Dimension statistics use
    * the scaled-long accumulation discipline (order-independent AND
    * codegen-friendly, see powerIteration); σ is floored at 1e-6 so a
    * constant dimension whitens to zero instead of exploding; a
    * zero-norm whitened vector (a vector AT the mean) contributes zero
    * unit mass via the sentinel divisor (stated — the bias is one
    * vector's worth).
    *
    * Scale shape: one explode pass (n·dim rows) feeding a dim-keyed
    * aggregate, one vec-keyed norm aggregate, one dim-keyed unit fold —
    * three shuffles, all on key spaces that broadcast back; nothing is
    * ever pairwise. */
  def whiteningIsotropy(emb: DataFrame, dim: Int = 64): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val ex = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e"))
      .select(col("vec_id"), posexplode(col("e")).as(Seq("i", "xi")))
      .pinned() // dim stats and the whitened walk both read it
    def slSum(c: Column) =
      sum(floor(c * lit(1e12) + lit(0.5)).cast("bigint")).cast("double") /
        lit(1e12)
    def dec(c: Column) = c.cast("decimal(38,12)")
    def d(c: Column) = c.cast("double")
    val dimStats = ex.groupBy("i")
      .agg(count(lit(1)).as("nd"), slSum(col("xi")).as("sx"),
        slSum(col("xi") * col("xi")).as("sxx"))
      .select(col("i"), (col("sx") / d(col("nd"))).as("mu"),
        sqrt(greatest(col("sxx") / d(col("nd")) -
          (col("sx") / d(col("nd"))) * (col("sx") / d(col("nd"))),
          lit(1.0e-12))).as("sd"))
    val w = ex.join(broadcast(dimStats), Seq("i"))
      .select(col("vec_id"), col("i"),
        ((col("xi") - col("mu")) / col("sd")).as("w"))
      .pinned() // the norm pass and the unit fold both read it
    val nrm = w.groupBy("vec_id")
      .agg(sqrt(sum(dec(col("w") * col("w"))).cast("double")).as("nrm"))
    val nTot = nrm.agg(count(lit(1)).as("n"))
    val nrmDiv = when(col("nrm") =!= 0.0, col("nrm")).otherwise(lit(1.0))
    val units = w.join(nrm, Seq("vec_id"))
      .select(col("i"),
        when(col("nrm") =!= 0.0, col("w") / nrmDiv).otherwise(lit(0.0))
          .as("u"))
      .groupBy("i").agg(slSum(col("u")).as("su"))
    val ssuW = units.agg(sum(dec(col("su") * col("su"))).cast("double")
      .as("ssu_w"))
    val raw = embeddingIsotropy(emb, dim)
      .select(col("mean_cosine").as("mean_cosine_raw"))
    val n = d(col("n"))
    nTot.crossJoin(broadcast(ssuW)).crossJoin(broadcast(raw))
      .select(col("n").as("n_vectors"), lit(dim.toLong).as("dim"),
        col("mean_cosine_raw"),
        r6((col("ssu_w") - n) / (n * (n - lit(1.0))))
          .as("mean_cosine_whitened"),
        r6(col("mean_cosine_raw") -
          r6((col("ssu_w") - n) / (n * (n - lit(1.0)))))
          .as("anisotropy_removed"),
        when(abs(r6((col("ssu_w") - n) / (n * (n - lit(1.0))))) <
          abs(col("mean_cosine_raw")), 1).otherwise(0).cast("int")
          .as("whitening_helps"))
  }

  /** The λ grid and smoothing convention for [[mauveFrontier]] — Scala
    * literals shared verbatim with the oracle (1−λ is COMPUTED here, not
    * re-typed in SQL, so both engines multiply by the identical double). */
  val MauveLambdas: Seq[Double] = (1 to 9).map(_ / 10.0)

  /** MAUVE-style divergence frontier (Pillutla et al. 2021) between the
    * two md5-parity embedding cohorts — the modern "do these two text
    * populations occupy the same embedding space" eval, approximated
    * exactly the way the paper does: quantize both populations onto a
    * shared cluster vocabulary (the IVF centroid assignment every
    * sibling query here reuses), then trace KL(p‖m_λ) and KL(q‖m_λ)
    * against the mixtures m_λ = λp+(1−λ)q over a λ grid. A frontier
    * hugging the axes means the cohorts diverge (a model-vs-human or
    * train-vs-eval drift signal); a frontier pinned at the origin means
    * they blend. Add-one smoothing over the occupied clusters keeps
    * every KL finite; cohorts are vec_id parity (deterministic, same
    * convention as the hash splits). One row per λ with the frontier
    * coordinates (exp(−KL), the paper's scaling at c = 1).
    *
    * Scale shape: one broadcast centroid fan-out (the ivfTopK shape) →
    * cluster-bounded contingency; all 9 λ arms fold the ≤ |centroids|
    * frame. */
  def mauveFrontier(emb: DataFrame, centroidMod: Int = 40): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val cents = withNorm.filter(col("vec_id") % centroidMod === 0)
      .select(col("vec_id").as("centroid_id"),
        col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    val assigned = nearestCentroid(
      withNorm.crossJoin(broadcast(cents))
        .select(col("vec_id"), (col("vec_id") % 2).as("cohort"),
          col("centroid_id"),
          round(dot(col("embedding"), col("c_emb")) /
            (col("nrm") * col("c_nrm")), 6).as("c_sim")),
      col("cohort"), col("centroid_id"))
      .select(col("best.centroid_id").as("c"),
        col("best.cohort").as("g"))
    val cont = assigned.groupBy("c")
      .agg(sum(when(col("g") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"))
    val tot = cont.agg(sum(col("n0")).as("nn0"), sum(col("n1")).as("nn1"),
      count(lit(1)).as("kk"))
    def d(c: Column) = c.cast("double")
    def dec(c: Column) = c.cast("decimal(28,12)")
    val pq = cont.crossJoin(broadcast(tot))
      .select(
        ((d(col("n0")) + lit(1.0)) / (d(col("nn0")) + d(col("kk"))))
          .as("p"),
        ((d(col("n1")) + lit(1.0)) / (d(col("nn1")) + d(col("kk"))))
          .as("q"),
        col("nn0"), col("nn1"), col("kk"))
      .pinned() // all λ arms fold the same cluster frame
    val arms = MauveLambdas.map { l =>
      val l1 = 1.0 - l
      val m = lit(l) * col("p") + lit(l1) * col("q")
      pq.agg(
          max(col("nn0")).as("n_a"), max(col("nn1")).as("n_b"),
          max(col("kk")).as("n_clusters"),
          sum(dec(col("p") * log(col("p") / m))).cast("double")
            .as("klp"),
          sum(dec(col("q") * log(col("q") / m))).cast("double")
            .as("klq"))
        .select(lit(l).as("lambda"), col("n_a"), col("n_b"),
          col("n_clusters"),
          r6(col("klp")).as("kl_p_m"), r6(col("klq")).as("kl_q_m"),
          r6(exp(-col("klq"))).as("frontier_x"),
          r6(exp(-col("klp"))).as("frontier_y"))
    }
    arms.reduce(_ unionAll _).orderBy("lambda")
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019): mutual
    * nearest neighbors between two embedding pools, scored by the RATIO
    * margin — best-pair cosine over the mean of each side's top-`kDen`
    * neighborhood — which suppresses hub vectors that are everyone's
    * nearest neighbor. The pools are the vec_id parity classes (the
    * deterministic stand-in for source/target languages); a pair ships
    * only if each side is the other's top-1. This is THE parallel-corpus
    * miner (LASER/CCMatrix) for translation-pair harvesting.
    *
    * Determinism: cosines round to 6dp BEFORE ranking (the cosine_topk
    * discipline), ties break on the partner id, and the margin
    * denominators are DECIMAL-folded means of those rounded top-`kDen`
    * sims — every downstream number derives from 6dp doubles both
    * engines agree on.
    *
    * Scale shape: the A×B pair synthesis is the documented EXACT
    * small-corpus oracle form (PlanLintSpec exemption, like
    * embeddingNearDup); at 100 TB substitute the LSH-bucketed candidate
    * frame (embeddingNearDupLSH's bucket join) — the per-side top-k
    * aggregates (native mergeable top_k_by_score, map-side partials) and
    * the mutuality join are already the scale shape and need no change. */
  def bitextMine(emb: DataFrame, kDen: Int = 4,
                 maxPairs: Long = DefaultPairBudget): DataFrame = {
    // one pass counts both parity sides with predicates that exactly
    // mirror the A/B filters below — a null or negative vec_id (% 2 →
    // null / −1) belongs to neither side and counts toward neither
    // factor, so the budget is precisely |A|·|B|, never the product of
    // two arbitrary groupBy rows; trips before the A×B synthesis
    val sides = emb.agg(
      count(when(col("vec_id") % 2 === 0, lit(1))).as("na"),
      count(when(col("vec_id") % 2 === 1, lit(1))).as("nb")).head()
    requirePairBudget(
      BigInt(sides.getLong(0)) * BigInt(sides.getLong(1)), maxPairs,
      "bitextMine", "bitextMineLsh")
    graft.plans.VectorOps.register(emb.sparkSession)
    graft.plans.TopK.register(emb.sparkSession)
    val withN = emb.select(col("vec_id"), col("embedding"),
      l2norm(col("embedding")).as("nrm"))
    val a = withN.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na"))
    val b = withN.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb"))
    val pairs = a.crossJoin(b)
      .select(col("ida"), col("idb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("sim"))
    bitextCore(pairs, kDen)
      .orderBy(col("margin").desc, col("src_id"))
  }

  /** Shared bitext-mining core over a candidate `(ida, idb, sim)` frame:
    * per-side bounded-heap top-`kDen` (native mergeable top_k_by_score,
    * map-side partials), ratio-margin denominators, mutual-top-1 join.
    * The candidate frame is whatever the caller can afford — exact A×B
    * for [[bitextMine]]'s oracle form, LSH-bucketed for
    * [[bitextMineLsh]]'s 100 TB form — and the core never changes. */
  private def bitextCore(pairsIn: DataFrame, kDen: Int): DataFrame = {
    val pairs = pairsIn.pinned() // both direction aggregates read it
    def side(key: String, other: String) = pairs
      .groupBy(key)
      .agg(graft.plans.TopK.top_k_by_score(
        struct(col("sim"), col(other)), kDen).as("tk"))
      .select(col(key),
        element_at(col("tk"), 1).getField(other).as(s"best_$other"),
        element_at(col("tk"), 1).getField("sim").as(s"sim_$key"),
        // the step re-casts to the accumulator type (decimal + decimal
        // widens to 29,12 and would break the HOF's type contract);
        // scale-12 addition of ≤ kDen unit-range sims is exact
        (aggregate(col("tk"), lit(0).cast("decimal(28,12)"),
          (acc, x) => (acc + x.getField("sim").cast("decimal(28,12)"))
            .cast("decimal(28,12)"))
          .cast("double") / size(col("tk")).cast("double"))
          .as(s"den_$key"))
    val fwd = side("ida", "idb")
    val bwd = side("idb", "ida")
    fwd.join(bwd,
        fwd("best_idb") === bwd("idb") && bwd("best_ida") === fwd("ida"))
      .select(col("ida").as("src_id"), col("idb").as("dst_id"),
        col("sim_ida").as("sim"),
        r6(col("sim_ida") / ((col("den_ida") + col("den_idb")) / lit(2.0)))
          .as("margin"))
  }

  /** LSH-bucketed bitext mining — [[bitextMine]]'s 100 TB shape: the A×B
    * candidate synthesis is replaced by the random-hyperplane bucket join
    * ([[embeddingNearDupLSH]]'s blocking), so candidates are only pairs
    * whose signatures collide and no all-pairs frame ever materializes;
    * the top-k denominators, ratio margin, and mutuality join are the
    * shared [[bitextCore]], unchanged. Ships with a recall-vs-exact audit
    * (the [[annRecall]] discipline): the exact mutual-top-1 pair set is
    * recomputed over the full A×B frame with the bounded B pool BROADCAST
    * (the bruteForceTopK audit shape — a BroadcastNestedLoopJoin, not a
    * CartesianProduct; in production the audit runs on a sampled slice),
    * and every mined row carries `n_exact_pairs` and the pair-set
    * `recall_vs_exact`. Mined-but-not-exact pairs exist by construction
    * (a vector's true best partner can straddle buckets, making a weaker
    * mutual pair win inside the bucket) — that is exactly what the audit
    * is for; fewer bits → bigger buckets → recall → 1. */
  def bitextMineLsh(emb: DataFrame, kDen: Int = 4,
                    nBits: Int = 4): DataFrame = {
    graft.plans.VectorOps.register(emb.sparkSession)
    graft.plans.TopK.register(emb.sparkSession)
    // one bucketing + norm pass feeds the candidate join AND both exact
    // audit pools
    val withN = emb.join(lshBuckets(emb, nBits), Seq("vec_id"))
      .select(col("vec_id"), col("embedding"), col("bucket"),
        l2norm(col("embedding")).as("nrm"))
      .pinned()
    val a = withN.filter(col("vec_id") % 2 === 0)
      .select(col("bucket"), col("vec_id").as("ida"),
        col("embedding").as("ea"), col("nrm").as("na"))
    val b = withN.filter(col("vec_id") % 2 === 1)
      .select(col("bucket"), col("vec_id").as("idb"),
        col("embedding").as("eb"), col("nrm").as("nb"))
    // each vector has exactly ONE signature, so the bucket equi-join
    // emits each colliding pair once — no dedup needed
    val cand = a.join(b, Seq("bucket"))
      .select(col("ida"), col("idb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
          .as("sim"))
    val mined = bitextCore(cand, kDen).pinned()
    val exactPairs = bitextCore(
      a.drop("bucket").crossJoin(broadcast(b.drop("bucket")))
        .select(col("ida"), col("idb"),
          round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
            .as("sim")), kDen)
      .select(col("src_id"), col("dst_id"))
      .pinned()
    val audit = exactPairs.agg(count(lit(1)).as("n_exact_pairs"))
      .crossJoin(mined.join(exactPairs, Seq("src_id", "dst_id"),
        "left_semi").agg(count(lit(1)).as("n_hits")))
    mined.crossJoin(broadcast(audit))
      .select(col("src_id"), col("dst_id"), col("sim"), col("margin"),
        col("n_exact_pairs"),
        r6(when(col("n_exact_pairs") > 0L,
          col("n_hits").cast("double") /
            col("n_exact_pairs").cast("double")).otherwise(lit(0.0)))
          .as("recall_vs_exact"))
      .orderBy(col("margin").desc, col("src_id"))
  }
}
