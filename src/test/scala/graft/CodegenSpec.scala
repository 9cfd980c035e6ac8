package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Proves every native expression in plans/ actually COMPILES under
  * whole-stage codegen — not merely that it evaluates correctly. The
  * default Spark config silently falls back to interpreted eval when
  * Janino rejects the generated code (logging one warning), so the
  * ordinary suites would stay green while the perf claim rotted. This
  * suite runs with codegen.fallback=false + CODEGEN_ONLY so a broken
  * doGenCode throws instead, and cross-checks each expression's codegen
  * value against its interpreted value on the same rows. */
class CodegenSpec extends AnyFunSuite {
  // A dedicated session: getOrCreate() would reuse SparkSpec's session
  // and ignore these confs, so go through a fresh session with the
  // strict flags. SparkSession confs are per-session (SQLConf), so this
  // coexists with the shared-context suites.
  lazy val strict: SparkSession = {
    val base = GraftSession.builder(cores = 4).getOrCreate()
    val s = base.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    withNatives(s, "CODEGEN_ONLY")
  }
  lazy val lax: SparkSession = withNatives(strict.newSession(), "NO_CODEGEN")

  private def withNatives(s: SparkSession, factoryMode: String): SparkSession = {
    s.conf.set("spark.sql.codegen.factoryMode", factoryMode)
    graft.plans.TextSketches.register(s)
    graft.plans.VectorOps.register(s)
    graft.plans.PHash63.register(s)
    graft.plans.RollingHash.register(s)
    graft.plans.JaroWinklerSim.register(s)
    graft.plans.TokenStats.register(s)
    s
  }

  private val exprs = Seq(
    "minhash_sig(split(t, ' '), 8)",
    "simhash60(split(t, ' '))",
    "word_shingles(split(t, ' '), 3)",
    "word_ngrams(split(t, ' '), 2)",
    "token_chunks(split(t, ' '), 4)",
    "cooc_pairs(split(t, ' '), 2)",
    "char_ngrams(t, 3)",
    "phash63(cast(t AS BINARY))",
    "pgm_phash63(cast(t AS BINARY))",
    "pgm_grad_hex(cast(t AS BINARY))",
    "lsh_bucket(cast(array(1.5, -2.0, 0.25) AS ARRAY<FLOAT>), 8, 3)",
    "rolling_hash(t)",
    "jaro_winkler(t, reverse(t))",
    "dot_f32(cast(array(1.0, 2.0) AS ARRAY<FLOAT>), " +
      "cast(array(3.0, 4.0) AS ARRAY<FLOAT>))",
    "dot_f64(cast(array(1.0, 2.0) AS ARRAY<DOUBLE>), " +
      "cast(array(3.0, 4.0) AS ARRAY<DOUBLE>))",
    "token_stats(t)")

  // The byte-level loops in plans/ are exactly where multibyte UTF-8,
  // empty inputs, and nulls bite differently in generated code, so the
  // row battery carries all of them: ASCII, multibyte (2-, 3- and
  // 4-byte sequences), single token, empty string, a 600-char token
  // (stresses any fixed-size assumption), a valid P5 PGM container
  // (ASCII header + raster, meaningful for the pgm_* arms, plain bytes
  // for the rest), and NULL.
  private val fixtureSql =
    """SELECT * FROM VALUES
        ('the quick brown fox jumps over the lazy dog'),
        ('héllo wörld — ñandú 中文测试 🎉🚀 done'),
        ('a b c d e f g h i j k l'),
        ('one'),
        (''),
        (repeat('xy', 300)),
        (concat('P5 2 2 255', chr(10), 'abcd')),
        (CAST(NULL AS STRING)) AS v(t)"""

  // Targeted literal edges the row battery can't reach through
  // split(t, ' '): null/empty/1-element ARRAYS, null binary, empty and
  // size-mismatched vectors, multibyte char n-grams, malformed PGM.
  private val edgeExprs = Seq(
    "minhash_sig(cast(array() AS ARRAY<STRING>), 8)",
    "minhash_sig(cast(NULL AS ARRAY<STRING>), 8)",
    "minhash_sig(array('中文'), 8)",
    "simhash60(cast(array() AS ARRAY<STRING>))",
    "simhash60(cast(NULL AS ARRAY<STRING>))",
    "simhash60(array('🎉'))",
    "word_shingles(array('a'), 3)",
    "word_shingles(cast(array() AS ARRAY<STRING>), 3)",
    "word_ngrams(array('solo'), 2)",
    "token_chunks(cast(array() AS ARRAY<STRING>), 4)",
    "cooc_pairs(array('lone'), 2)",
    "char_ngrams('', 3)",
    "char_ngrams('中文🎉', 2)",
    "char_ngrams(cast(NULL AS STRING), 3)",
    "char_ngrams('ab', 3)",
    "phash63(cast('' AS BINARY))",
    "phash63(cast(NULL AS BINARY))",
    "pgm_phash63(cast('P5 bogus' AS BINARY))",
    "pgm_phash63(cast('' AS BINARY))",
    "pgm_phash63(cast(NULL AS BINARY))",
    "pgm_grad_hex(cast(concat('P5 2 2 255', chr(10), 'abcd') AS BINARY))",
    "pgm_grad_hex(cast('P5 truncated' AS BINARY))",
    "pgm_grad_hex(cast('' AS BINARY))",
    "pgm_grad_hex(cast(NULL AS BINARY))",
    "lsh_bucket(cast(array() AS ARRAY<FLOAT>), 8, 3)",
    "lsh_bucket(cast(NULL AS ARRAY<FLOAT>), 8, 3)",
    "lsh_bucket(cast(array(0.5) AS ARRAY<FLOAT>), 4, 2)",
    "rolling_hash('')",
    "rolling_hash('中文テスト🚀')",
    "rolling_hash(cast(NULL AS STRING))",
    "jaro_winkler('', '')",
    "jaro_winkler(cast(NULL AS STRING), 'x')",
    "jaro_winkler('ñandú', 'nandu')",
    "dot_f32(cast(array() AS ARRAY<FLOAT>), cast(array() AS ARRAY<FLOAT>))",
    "dot_f32(cast(array(1.0) AS ARRAY<FLOAT>), " +
      "cast(array(2.0) AS ARRAY<FLOAT>))",
    "dot_f32(cast(NULL AS ARRAY<FLOAT>), cast(array(1.0) AS ARRAY<FLOAT>))",
    "dot_f64(cast(array() AS ARRAY<DOUBLE>), " +
      "cast(array() AS ARRAY<DOUBLE>))",
    "dot_f64(cast(NULL AS ARRAY<DOUBLE>), " +
      "cast(array(1.0) AS ARRAY<DOUBLE>))",
    "token_stats('')",
    "token_stats('中文 mixed ascii 🎉')",
    "token_stats(cast(NULL AS STRING))")

  test("every plans/ expression compiles under CODEGEN_ONLY with " +
    "fallback disabled, and matches the interpreted value") {
    exprs.foreach { e =>
      val sql = s"SELECT cast($e AS STRING) AS v FROM ($fixtureSql)"
      val gen =
        try strict.sql(sql).collect().map(_.getString(0)).toSeq
        catch { case ex: Throwable =>
          fail(s"codegen path failed for `$e`: ${ex.getMessage}")
        }
      val interp = lax.sql(sql).collect().map(_.getString(0)).toSeq
      assert(gen == interp, s"codegen != interpreted for `$e`")
    }
  }

  test("literal edge battery (null / empty / 1-element / multibyte / " +
    "malformed) matches interpreted under CODEGEN_ONLY") {
    edgeExprs.foreach { e =>
      val sql = s"SELECT cast($e AS STRING) AS v"
      val gen =
        try strict.sql(sql).collect().map(_.getString(0)).toSeq
        catch { case ex: Throwable =>
          fail(s"codegen path failed for `$e`: ${ex.getMessage}")
        }
      val interp = lax.sql(sql).collect().map(_.getString(0)).toSeq
      assert(gen == interp, s"codegen != interpreted for `$e`")
    }
  }

  test("pgm_grad_hex pins the documented gradient on a literal raster") {
    // bytes a,b,c,d = 97,98,99,100 → diffs 1,1,1 → "010101"
    val r = strict.sql("SELECT pgm_grad_hex(cast(" +
      "concat('P5 2 2 255', chr(10), 'abcd') AS BINARY)) AS g").head()
    assert(r.getString(0) == "010101")
    val bad = strict.sql(
      "SELECT pgm_grad_hex(cast('P5 0 0 255 ' AS BINARY)) AS g").head()
    assert(bad.isNullAt(0))
  }
}
