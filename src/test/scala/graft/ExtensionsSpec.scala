package graft

/** SparkSessionExtensions injection: a session built with
  * spark.sql.extensions=graft.GraftExtensions can call every native graft
  * expression from plain SQL, no Column-API registration required. */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("all graft functions resolve from SQL in an extensions-built session") {
    // getOrCreate reuses any live session and would skip extension
    // injection — cycle the shared session (suites run sequentially in
    // the forked test JVM; later suites lazily recreate their own).
    org.apache.spark.sql.SparkSession.getActiveSession.foreach(_.stop())
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(cores = 2)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val row = spark.sql(
        """SELECT
             minhash_sig(array('a','b','c','d'), 4) AS mh,
             simhash60(array('a','b')) AS sh,
             dot_f32(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
                     array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dp,
             lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)), 4, 2)
               AS lb,
             rolling_hash('abc') AS rh,
             jaro_winkler('martha', 'marhta') AS jw,
             token_chunks(array('a','b','c','d','e'), 2) AS tc,
             cooc_pairs(array('b','a','b'), 2) AS cp""").collect()(0)
      assert(row.getSeq[Long](row.fieldIndex("mh")).length == 4)
      assert(row.getSeq[String](row.fieldIndex("tc")) ==
        Seq("a b", "c d", "e"))
      // offsets 1..2: (b,a),(a,b) canonical "a b" twice; (b,b) self-drop
      assert(row.getSeq[String](row.fieldIndex("cp")) == Seq("a b", "a b"))
      assert(row.getAs[Double]("dp") == 11.0)
      assert(row.getAs[Long]("rh") ==
        graft.plans.RollingHash.reference("abc"))
      assert(row.getAs[Double]("jw") == 0.9611111111111111)
      // same values as the Column-API registration path
      graft.plans.TextSketches.register(spark)
      val viaRegister = spark.sql(
        "SELECT minhash_sig(array('a','b','c','d'), 4) AS mh").collect()(0)
      assert(row.getSeq[Long](row.fieldIndex("mh")) ==
        viaRegister.getSeq[Long](viaRegister.fieldIndex("mh")))
    } finally {
      spark.stop()
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
    }
  }
}
