package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.CleanFns._
import graft.operators.{Dedup, Upsert}

/** Property tests (SURVEY.md §5.2): algebraic invariants of the operators,
  * checked over ScalaCheck-generated inputs with fixed seeds (deterministic
  * CI — no flaky shrink paths). */
class PropertySpec extends SparkSpec {

  private def sample[T](g: Gen[T], seed: Long): T =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val seeds = Seq(1L, 42L, 2026L)

  private val tokenGen: Gen[String] = for {
    n <- Gen.choose(0, 12)
    chars <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.const('-'), 2 -> Gen.const(' '),
      1 -> Gen.oneOf('_', '.', 'É', 'ü')))
  } yield chars.mkString

  test("G1 normalizeToken is a fixpoint (normalize twice = once)") {
    import spark.implicits._
    for (seed <- seeds) {
      val toks = sample(Gen.listOfN(200, tokenGen), seed)
      val df = toks.toDF("t")
        .select(normalizeToken(col("t")).as("once"))
        .select(col("once"), normalizeToken(col("once")).as("twice"))
      assert(df.filter(col("once") =!= col("twice")).isEmpty)
    }
  }

  test("A5 keepLatest is idempotent and keeps exactly one row per key") {
    import spark.implicits._
    for (seed <- seeds) {
      val rows = sample(Gen.listOfN(300, for {
        k <- Gen.choose(0L, 40L)
        v <- Gen.choose(0L, 1000L)
        p <- Gen.choose(0L, 1000000L)
      } yield (k, v, p)), seed)
      val df = rows.toDF("k", "ver", "payload")
      val once = Dedup.keepLatest(df, Seq("k"), col("ver"), col("payload"))
      val twice = Dedup.keepLatest(once, Seq("k"), col("ver"), col("payload"))
      assert(once.count() === df.select("k").distinct().count())
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
      // keep-latest really kept the max (ver, payload) per key
      val expected = df.groupBy("k")
        .agg(max(struct(col("ver"), col("payload"))).as("s"))
        .select(col("k"), col("s.ver"), col("s.payload"))
      assert(once.exceptAll(expected).isEmpty)
    }
  }

  test("D1 upsert: key set is the union; incoming wins on collisions") {
    import spark.implicits._
    for (seed <- seeds) {
      val gen = Gen.listOfN(150, for {
        k <- Gen.choose(0L, 60L); v <- Gen.choose(0L, 100L)
      } yield (k, v))
      val existing = sample(gen, seed).toDF("k", "v")
        .groupBy("k").agg(max("v").as("v"), lit("old").as("src"))
      val incoming = sample(gen, seed + 7).toDF("k", "v")
        .withColumn("src", lit("new"))
      val merged = Upsert.upsert(existing, incoming, Seq("k"),
        col("v"), col("v"))
      val keysUnion = existing.select("k").union(incoming.select("k"))
        .distinct().count()
      assert(merged.select("k").distinct().count() === keysUnion)
      assert(merged.count() === keysUnion)
      // every key present in incoming must surface with src = "new"
      val incomingKeys = incoming.select("k").distinct()
      val wrong = merged.join(incomingKeys, Seq("k"))
        .filter(col("src") =!= "new")
      assert(wrong.isEmpty)
    }
  }

  test("D1 upsert is idempotent: applying the same incoming twice = once") {
    import spark.implicits._
    for (seed <- seeds) {
      val gen = Gen.listOfN(100, for {
        k <- Gen.choose(0L, 40L); v <- Gen.choose(0L, 100L)
      } yield (k, v))
      val existing = sample(gen, seed).toDF("k", "v")
      val incoming = sample(gen, seed + 3).toDF("k", "v")
      val once = Upsert.upsert(existing, incoming, Seq("k"), col("v"), col("v"))
      val twice = Upsert.upsert(once, incoming, Seq("k"), col("v"), col("v"))
      assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
    }
  }

  test("G10 moneyScrub recovers formatted positive doubles") {
    import spark.implicits._
    for (seed <- seeds) {
      val vals = sample(Gen.listOfN(200,
        Gen.choose(0.01, 900000.0)), seed)
      val df = vals.toDF("v")
        .withColumn("raw", concat(lit("$"), col("v").cast("string")))
        .withColumn("back", moneyScrub(col("raw")))
      assert(df.filter(col("back") =!= col("v")).isEmpty)
    }
  }

  test("SCD2 invariants: dense versions, tiling intervals, one current") {
    import spark.implicits._
    for (seed <- seeds) {
      val rows = sample(Gen.listOfN(200, for {
        key <- Gen.choose(1L, 12L)
        day <- Gen.choose(1, 28)
        st <- Gen.oneOf("a", "b", "c")
      } yield (key, f"2022-01-$day%02d", st)), seed)
      // one state per (key, day): keep max state for determinism
      val feed = rows.toDF("k", "day", "state")
        .groupBy("k", "day").agg(max("state").as("state"))
      val out = Upsert.scd2History(feed, "k", "day", "state")
        .as[(Long, Long, String, String, Option[String], Boolean, Long)]
        .collect().toSeq
      out.groupBy(_._1).foreach { case (k, vs) =>
        val sorted = vs.sortBy(_._2)
        // versions are dense 1..n
        assert(sorted.map(_._2) == (1L to sorted.length))
        // intervals tile: valid_to(v) == valid_from(v+1); exactly one open
        sorted.sliding(2).foreach {
          case Seq(a, b) =>
            assert(a._5.contains(b._4), s"key $k gap")
            assert(a._3 != b._3, s"key $k adjacent versions same state")
          case _ =>
        }
        assert(sorted.count(_._6) == 1 && sorted.last._6)
        assert(sorted.last._5.isEmpty)
      }
      // n_days sums to the number of distinct (key, day) change rows
      assert(out.map(_._7).sum == feed.count())
    }
  }

  test("stratified sampling: deterministic, monotone in rate, subset") {
    import spark.implicits._
    import graft.operators.Sampling
    for (seed <- seeds) {
      val rows = sample(Gen.listOfN(400, for {
        id <- Gen.choose(1L, 100000L)
        s <- Gen.oneOf("x", "y")
      } yield (id, s)), seed).distinct
      val df = rows.toDF("id", "s")
      def ids(rx: Int, ry: Int) = Sampling.stratifiedSample(df, col("s"),
        col("id"), Map("x" -> rx, "y" -> ry)).select("id")
        .as[Long].collect().toSet
      val lo = ids(200, 500)
      val hi = ids(600, 900)
      assert(lo == ids(200, 500)) // deterministic
      assert(lo.subsetOf(hi))     // rate increase only ADDS rows
      assert(ids(1000, 1000) == rows.map(_._1).toSet)
      assert(ids(0, 0).isEmpty)
    }
  }

  test("§2.9 warehouse replay: any interleaving of N upsert batches " +
    "converges to one combined batch (facts compared in natural form)") {
    import spark.implicits._
    import java.nio.file.Files
    // The invariant the fact merge (Upsert.mergeLatest) buys: the table is
    // keep-latest over every row ever fed, so batch boundaries and batch
    // ORDER cannot matter. Surrogate ids ARE assignment-order dependent
    // (INSERT OR IGNORE append semantics), so facts compare after joining
    // the enum dim back to natural event names.
    def naturalFacts(root: String): Set[(String, Long, String, String,
        Double, String, Long)] = {
      val wh = new graft.warehouse.StarWarehouse(spark, root)
      wh.read("fact_events")
        .join(wh.read("dim_event_types"), Seq("event_type_id"))
        .select(col("event_id"), unix_micros(col("ts")), col("user_id"),
          col("event"), col("amount"), col("event_date"), col("event_hour"))
        .as[(String, Long, String, String, Double, String, Long)]
        .collect().toSet
    }
    def cleanedDf(rs: Seq[(String, Long, String, String, Double)]) =
      rs.toDF("event_id", "off", "event", "user_id", "amount")
        .withColumn("ts", timestamp_seconds(lit(1709251200L) +
          col("off") * 3600))
        .withColumn("event_date", date_format(col("ts"), "yyyy-MM-dd"))
        .withColumn("event_hour", hour(col("ts")).cast("long"))
        .withColumn("country", lit("DE"))
        .withColumn("signup_source", lit("organic"))
        .drop("off")
    for (seed <- seeds) {
      // narrow key space forces cross-batch collisions with distinct ts
      val rows = sample(Gen.listOfN(120, for {
        id <- Gen.choose(0L, 30L)
        off <- Gen.choose(0L, 40L)
        ev <- Gen.oneOf("pageview", "signup", "purchase", "view")
        uid <- Gen.choose(1L, 9L)
        amt <- Gen.choose(0, 10000)
      } yield (s"e$id", off, ev, s"u$uid", amt / 100.0)), seed)
      val batches = rows.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))
      def load(order: Seq[Seq[(String, Long, String, String, Double)]])
          : Set[(String, Long, String, String, Double, String, Long)] = {
        val root = Files.createTempDirectory("graft_replay").toString
        val wh = new graft.warehouse.StarWarehouse(spark, root)
        order.foreach(b => wh.load(Some(cleanedDf(b))))
        naturalFacts(root)
      }
      val combined = load(Seq(rows))
      assert(load(batches) == combined, s"seed $seed: 0,1,2 diverged")
      assert(load(batches.reverse) == combined,
        s"seed $seed: reversed interleaving diverged")
    }
  }

  test("round-9 statistics invariants hold on random event fixtures") {
    import spark.implicits._
    import graft.analytics.StatsAnalytics
    for (seed <- seeds) {
      val rows = sample(Gen.listOfN(400, for {
        u <- Gen.choose(1L, 60L)
        t <- Gen.choose(1, 28)
        v <- Gen.choose(0.0, 500.0)
        e <- Gen.oneOf("view", "click", "purchase")
      } yield (u, f"2024-01-$t%02d 10:00:00", v, e)), seed)
      val ev = rows.toDF("user_id", "s", "value", "event_type")
        .select(col("user_id"), col("s").cast("timestamp").as("ts"),
          col("value"), col("event_type"))
      // KM survival: S is non-increasing, at-risk strictly decreasing,
      // and the death+censor ledger adds up to the cohort
      val km = StatsAnalytics.survivalKm(ev)
        .select("t", "n_risk", "d", "c", "s_km")
        .as[(Long, Long, Long, Long, Double)].collect().toList
      assert(km.sliding(2).forall {
        case List(a, b) => b._5 <= a._5 + 1e-9 && b._2 < a._2
        case _ => true
      }, s"seed $seed: KM not monotone")
      assert(km.map(r => r._3 + r._4).sum == km.head._2,
        s"seed $seed: KM ledger mismatch")
      // PSI is non-negative by construction (each term (p-q)ln(p/q) >= 0)
      val psi = StatsAnalytics.psiDrift(ev)
        .select("psi").as[Double].collect()
      assert(psi.forall(_ >= 0.0), s"seed $seed: negative PSI")
      // chi-square is non-negative with k-1 dof
      val x2 = StatsAnalytics.chiSquare(ev)
        .select("k_types", "dof", "chi2")
        .as[(Long, Long, Double)].collect().head
      assert(x2._3 >= 0.0 && x2._2 == x2._1 - 1)
      // incremental maintenance: merged partials equal the flat aggregate
      val inc = StatsAnalytics.incrementalAgg(ev)
        .select(col("event_type"), col("n_events"), col("total_value"))
      val flat = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum(coalesce(col("value"), lit(0.0))
            .cast("decimal(18,6)")), 2).cast("double").as("total_value"))
      assert(inc.exceptAll(flat).isEmpty && flat.exceptAll(inc).isEmpty,
        s"seed $seed: incremental != flat")
    }
  }

  test("TopKBuffer: heap == naive sort oracle under random scores/ties, " +
    "any merge split, and a serialize round-trip") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val rowType = StructType(Seq(
      StructField("score", DoubleType), StructField("tie", LongType)))
    val proj = UnsafeProjection.create(rowType.fields.map(_.dataType))
    def mkRow(s: Double, t: Long) =
      proj(InternalRow(s, t)).copy()
    for (seed <- seeds) {
      val entries = sample(Gen.listOfN(200, for {
        s <- Gen.choose(0, 9) // few distinct scores -> dense tie paths
        t <- Gen.choose(0L, 50L)
      } yield (s.toDouble, t)), seed).distinct // unique (score,tie) pairs
      for (k <- Seq(1, 3, 7, 250)) {
        // oracle: rank by (score DESC, tie ASC), take k
        val expect = entries.sortBy { case (s, t) => (-s, t) }.take(k)
        // single buffer
        val buf = new graft.plans.TopKBuffer(k)
        entries.foreach { case (s, t) => buf.add(s, t, mkRow(s, t)) }
        def decoded(b: graft.plans.TopKBuffer) =
          b.sorted.toList.map(r => (r.getDouble(0), r.getLong(1)))
        assert(decoded(buf) == expect, s"seed $seed k $k single")
        // arbitrary split + merge (partial-aggregate path)
        val cut = sample(Gen.choose(0, entries.length), seed + k)
        val (l, r) = entries.splitAt(cut)
        val bl = new graft.plans.TopKBuffer(k)
        val br = new graft.plans.TopKBuffer(k)
        l.foreach { case (s, t) => bl.add(s, t, mkRow(s, t)) }
        r.foreach { case (s, t) => br.add(s, t, mkRow(s, t)) }
        bl.mergeFrom(br)
        assert(decoded(bl) == expect, s"seed $seed k $k merged")
        // serialize -> deserialize keeps the same ranked contents
        val rt = graft.plans.TopKBuffer.deserialize(
          buf.serialize(), k, rowType)
        assert(decoded(rt) == expect, s"seed $seed k $k roundtrip")
      }
    }
  }

  test("goodTuring invariants over generated corpora") {
    import spark.implicits._
    for (seed <- seeds) {
      val docs = sample(Gen.listOfN(60, for {
        src <- Gen.oneOf("a", "b", "c")
        n <- Gen.choose(0, 15)
        toks <- Gen.listOfN(n, Gen.oneOf(
          "x", "y", "z", "w", "u", "rare" + seed, "one"))
      } yield (src, toks.mkString(" "))), seed)
      val out = graft.ext.Curation
        .goodTuring(docs.toDF("source", "text")).collect()
      out.foreach { r =>
        val (n, v, n1, n2) =
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
        assert(v <= n && n1 + n2 <= v)
        assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
        assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
      }
    }
  }

  test("G8 pickTimestampToken: candidates first, then any-column scan") {
    import spark.implicits._
    val df = Seq(
      ("04-30-22", "x", "noise"),          // candidate wins
      ("", "order 05-12-21 shipped", "y"), // fallback scan of other col
      ("", "no token", "none here")        // nothing -> null
    ).toDF("Date", "note", "misc")
    val got = df.select(graft.ingest.KaggleNormalizer
        .pickTimestampToken(df, Seq("Date")).as("tok"))
      .collect().map(r => Option(r.getString(0)))
    assert(got.toSeq === Seq(Some("04-30-22"), Some("05-12-21"), None))
  }
}
