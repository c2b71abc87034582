package graft

import graft.functions.ArrayMath
import org.apache.spark.sql.functions._

/** Native codegen expression layer: value parity with driver math and the
  * old HOF formulations, SQL registration, codegen + interpreted paths.
  */
class GraftFunctionsSpec extends SparkSpec {

  private def randRows(n: Int, d: Int, seed: Int): Seq[(Seq[Double], Seq[Double])] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(n)((Seq.fill(d)(rnd.nextDouble()), Seq.fill(d)(rnd.nextDouble() + 0.1)))
  }

  test("expression values match driver math (sqdist/dot/cosine/l1/kl)") {
    import spark.implicits._
    val rows = randRows(50, 16, 1)
    val df = rows.toDF("a", "b")
    val got = df.select(
      ArrayMath.sqdist(col("a"), col("b")).as("sq"),
      ArrayMath.dot(col("a"), col("b")).as("dp"),
      ArrayMath.cosine(col("a"), col("b")).as("cs"),
      ArrayMath.l1dist(col("a"), col("b")).as("l1"),
      ArrayMath.kl(col("a"), col("b"), 1e-9).as("kl")
    ).collect()
    rows.zip(got).foreach { case ((a, b), r) =>
      val sq = a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      val cs = dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      val l1 = a.zip(b).map { case (x, y) => math.abs(x - y) }.sum
      val kl = a.zip(b).map { case (x, y) =>
        val xs = x + 1e-9; xs * math.log(xs / (y + 1e-9))
      }.sum
      assert(math.abs(r.getDouble(0) - sq) < 1e-12, s"sqdist ${r.getDouble(0)} vs $sq")
      assert(math.abs(r.getDouble(1) - dp) < 1e-12)
      assert(math.abs(r.getDouble(2) - cs) < 1e-12)
      assert(math.abs(r.getDouble(3) - l1) < 1e-12)
      assert(math.abs(r.getDouble(4) - kl) < 1e-10)
    }
  }

  test("rule 16 guard: a Seq[Double] UDF parameter arrives as a List") {
    import spark.implicits._
    // CLAUDE.md rule 16: Spark hands Seq UDF/Aggregator inputs over as a
    // List, so xs(i) walks i cells. If this fails, a Spark upgrade changed
    // the input conversion: re-read rule 16 before relying on either shape.
    val cls = udf { (xs: Seq[Double]) => xs.getClass.getName }
    val got = Seq(Seq(1.0, 2.0, 3.0)).toDF("a").select(cls(col("a"))).head().getString(0)
    assert(got == classOf[scala.collection.immutable.::[_]].getName,
      s"Seq UDF input is now $got, not a List: revisit CLAUDE.md rule 16")
  }

  test("interpreted path (codegen off) agrees with codegen path") {
    import spark.implicits._
    val df = randRows(30, 8, 2).toDF("a", "b")
    val sel = df.select(
      ArrayMath.sqdist(col("a"), col("b")).as("sq"),
      ArrayMath.cosine(col("a"), col("b")).as("cs"))
    val withCg = sel.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val noCg = sel.collect().map(r => (r.getDouble(0), r.getDouble(1)))
      withCg.zip(noCg).foreach { case ((a1, c1), (a2, c2)) =>
        assert(a1 == a2 && c1 == c2, "codegen and interpreted paths diverged")
      }
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("whole-stage codegen engages (no interpreted-HOF fallback)") {
    // a non-local source so ConvertToLocalRelation can't pre-evaluate
    val df = spark.range(100).select(
      array(col("id").cast("double"), lit(1.0)).as("a"),
      array(lit(2.0), col("id").cast("double")).as("b"))
    val q = df.select(ArrayMath.sqdist(col("a"), col("b")).as("d"))
    val plan = q.queryExecution.executedPlan
    val wsc = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.nonEmpty, s"expected a WholeStageCodegenExec node in plan:\n$plan")
    // and the graft expression is INSIDE the codegen span, not a fallback
    assert(wsc.exists(_.toString.contains("graft_sqdist")),
      s"graft_sqdist not inside the codegen span:\n$plan")
    assert(q.where(col("d") >= 0).count() == 100)
  }

  test("SQL registration: graft_* callable from spark.sql, coerces array<float>") {
    ArrayMath.register(spark)
    val r = spark.sql(
      "SELECT graft_sqdist(array(1.0D,2.0D), array(0.0D,0.0D)) AS sq, " +
        "graft_dot(array(1.0D,2.0D), array(3.0D,4.0D)) AS dp, " +
        "graft_cosine(array(1.0D,0.0D), array(1.0D,0.0D)) AS cs, " +
        "graft_l1dist(array(1.0D,-2.0D), array(0.0D,0.0D)) AS l1, " +
        "graft_kl(array(0.5D,0.5D), array(0.5D,0.5D)) AS kl").head()
    assert(r.getDouble(0) == 5.0)
    assert(r.getDouble(1) == 11.0)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
    assert(r.getDouble(3) == 3.0)
    assert(math.abs(r.getDouble(4)) < 1e-12)
    // float arrays coerce (the embeddings table is array<float>)
    val f = spark.sql(
      "SELECT graft_sqdist(cast(array(1.0,2.0) AS array<float>), array(0.0D,0.0D)) AS sq").head()
    assert(f.getDouble(0) == 5.0)
    // custom epsilon as the third literal arg
    val k = spark.sql(
      "SELECT graft_kl(array(0.2D), array(0.1D), 0.001D) AS kl").head()
    val exp = 0.201 * math.log(0.201 / 0.101)
    assert(math.abs(k.getDouble(0) - exp) < 1e-12)
  }

  test("SQL registration: text-pipeline scalars callable from spark.sql") {
    ArrayMath.register(spark)
    val r = spark.sql(
      "SELECT graft_token_count('a b  c') AS tc, " +
        "graft_normalize('  The QUICK, brown--fox!! ') AS nm, " +
        "graft_uniform(42, 'seed1') AS u1, graft_uniform(42, 'seed1') AS u2").head()
    assert(r.getInt(0) == 4) // raw whitespace split: '' from the double space
    assert(r.getString(1) == "the quick brown fox")
    assert(r.getDouble(2) == r.getDouble(3) && r.getDouble(2) >= 0.0 && r.getDouble(2) < 1.0)
    // graft_quality_micro == the Scala composition on real documents
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    docs.createOrReplaceTempView("gf_docs")
    val viaSql = spark.sql(
      "SELECT doc_id, graft_quality_micro(text) AS q FROM gf_docs").collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val viaApi = docs.select(col("doc_id"),
      graft.ops.TextOps.qualityScoreMicro(col("text")).as("q")).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(viaSql == viaApi)
    // non-literal seed is rejected with a clear message
    val e = intercept[Exception] {
      spark.sql("SELECT graft_uniform(1, concat('a','b'))").head()
    }
    assert(e.getMessage.contains("literal"))
  }

  test("cosine matches the legacy 3-pass HOF formulation bit-for-bit") {
    import spark.implicits._
    val df = randRows(40, 12, 4).toDF("a", "b")
    val legacy = {
      val dot = aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, v) => acc + v)
      val na = sqrt(aggregate(col("a"), lit(0.0), (acc, v) => acc + v * v))
      val nb = sqrt(aggregate(col("b"), lit(0.0), (acc, v) => acc + v * v))
      dot / (na * nb)
    }
    val rows = df.select(ArrayMath.cosine(col("a"), col("b")).as("nw"), legacy.as("old"))
      .collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-15))
  }

  test("mismatched lengths yield NULL (matches zip_with null-padding semantics)") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 9.0), Seq(1.0, 0.0))).toDF("a", "b")
    val r = df.select(ArrayMath.sqdist(col("a"), col("b")).as("d")).head()
    assert(r.isNullAt(0),
      "ragged inputs must not silently fold the common prefix: the HOF " +
        "form (zip_with pads with null, sum poisons) returns NULL, so the " +
        "native expression must too or the optimizer rewrite changes results")
    val ok = df.select(ArrayMath.sqdist(slice(col("a"), 1, 2), col("b")).as("d")).head()
    assert(ok.getDouble(0) == 4.0)
  }
}
