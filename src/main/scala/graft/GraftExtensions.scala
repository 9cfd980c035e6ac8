package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{LshBucket, MinHashSig, RollingHash, SimHash60}

/** SparkSessionExtensions injection point: registers every graft native
  * expression as a BUILT-IN function of the session, so plain SQL — and any
  * tool speaking SQL to the session — can call them without touching the
  * Column API:
  *
  * {{{
  * GraftSession.builder()
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   .getOrCreate()
  * spark.sql("SELECT minhash_sig(tokens, 32) FROM docs")
  * }}}
  *
  * The per-module `register(spark)` helpers remain for sessions created
  * without the config (tests, the driver harness); both paths bind the
  * same Expression constructors.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", "", name, usage, "", "", "", "", "", "", "built-in")

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      info("minhash_sig",
        "minhash_sig(tokens, k) - portable MinHash signature over word 3-gram shingles"),
      (exprs: Seq[Expression]) => MinHashSig(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("simhash60"),
      info("simhash60",
        "simhash60(tokens) - portable 60-bit SimHash of a token array"),
      (exprs: Seq[Expression]) => SimHash60(exprs.head)))
    ext.injectFunction((FunctionIdentifier("word_shingles"),
      info("word_shingles",
        "word_shingles(tokens, n) - distinct word n-gram shingles"),
      (exprs: Seq[Expression]) => graft.plans.WordShingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      info("word_ngrams",
        "word_ngrams(tokens, n) - in-order word n-grams with multiplicity"),
      (exprs: Seq[Expression]) => graft.plans.WordShingles(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(), distinct = false)))
    ext.injectFunction((FunctionIdentifier("token_chunks"),
      info("token_chunks",
        "token_chunks(tokens, n) - non-overlapping space-joined n-token chunks"),
      (exprs: Seq[Expression]) => graft.plans.TokenChunks(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("cooc_pairs"),
      info("cooc_pairs",
        "cooc_pairs(tokens, window) - canonical 'min max' co-occurrence " +
          "pairs for offsets 1..window, self-pairs dropped"),
      (exprs: Seq[Expression]) => graft.plans.CoocPairs(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("dot_f32"),
      info("dot_f32",
        "dot_f32(a, b) - float32-vector dot product in double precision"),
      (exprs: Seq[Expression]) => graft.plans.DotF32(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("lsh_bucket"),
      info("lsh_bucket",
        "lsh_bucket(embedding, nBits, dims) - portable random-hyperplane LSH bucket id"),
      (exprs: Seq[Expression]) => LshBucket(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("rolling_hash"),
      info("rolling_hash",
        "rolling_hash(text) - polynomial rolling-hash fingerprint of the UTF-8 bytes"),
      (exprs: Seq[Expression]) => RollingHash(exprs.head)))
    ext.injectFunction((FunctionIdentifier("dot_f64"),
      info("dot_f64",
        "dot_f64(a, b) - float64-vector dot product (strict left fold)"),
      (exprs: Seq[Expression]) => graft.plans.DotF64(exprs.head, exprs(1))))
    ext.injectFunction((FunctionIdentifier("token_stats"),
      info("token_stats",
        "token_stats(text) - one-pass token census struct (n_tokens, " +
          "n_distinct, sum_chars, per-profile stopword hits)"),
      (exprs: Seq[Expression]) => graft.plans.TokenStats(exprs.head)))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      info("jaro_winkler",
        "jaro_winkler(left, right) - Jaro-Winkler similarity " +
          "(prefix 4, scale 0.1, boost threshold 0.7)"),
      (exprs: Seq[Expression]) =>
        graft.plans.JaroWinklerSim(exprs.head, exprs(1))))
  }
}
