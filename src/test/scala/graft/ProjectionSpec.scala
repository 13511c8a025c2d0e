package graft

import org.apache.spark.sql.functions._

import graft.operators.Projection

class ProjectionSpec extends SparkSuite {
  import spark.implicits._

  test("basis vector projects to its own sign column, scaled") {
    // x = 2.5 * e_3 (dimIn 8): p_j = sign(3, j) * 2.5 / sqrt(4)
    val df = Seq((1L, Array.tabulate(8)(i => if (i == 2) 2.5f else 0f)))
      .toDF("vec_id", "embedding")
    val out = Projection.randProject(df, "vec_id", "embedding", 8, 4)
      .orderBy("component").collect()
    assert(out.length === 4)
    (1 to 4).foreach { j =>
      val exp = BigDecimal(Projection.sign("rp", 3, j) * 2.5 / math.sqrt(4.0))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(out(j - 1).getDouble(2) === exp)
    }
  }

  test("projection is shuffle-free") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val plan = Projection.randProject(e, "vec_id", "embedding", 64, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("JL property: projected distances approximate original distances") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter(col("vec_id") < 40)
    val p = Projection.randProject(e, "vec_id", "embedding", 64, 16)
    val orig = e.select(col("vec_id"),
      sqrt(aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")),
        lit(0.0), (a, b) => a + b)).as("n0"))
    val proj = p.groupBy(col("id").as("vec_id"))
      .agg(sqrt(sum(col("val") * col("val"))).as("n1"))
    val ratios = orig.join(proj, "vec_id")
      .select((col("n1") / col("n0")).as("r")).collect().map(_.getDouble(0))
    // E[‖Px‖/‖x‖] = 1; with dimOut 16 the spread is wide but bounded
    assert(ratios.forall(r => r > 0.3 && r < 2.5),
      s"ratios out of JL band: ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.length
    assert(mean > 0.75 && mean < 1.25, s"mean ratio $mean")
  }

  test("native expression ≡ Column-algebra twin, bit for bit") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val inv = Projection.exactInvRoot(16).get
    val signs = Array.tabulate(16, 64)((j, i) =>
      Projection.sign("rp", i + 1, j + 1))
    val both = e.select(
      graft.functions.RandProjectExpr(col("embedding"), signs, inv).as("nat"),
      ExprTwins.hofProjection(col("embedding"), 64, 16, "rp").as("hof"))
    assert(both.filter(not(col("nat") <=> col("hof"))).count() === 0)
  }

  test("native expression stays inside whole-stage codegen") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val inv = Projection.exactInvRoot(16).get
    val signs = Array.tabulate(16, 64)((j, i) =>
      Projection.sign("rp", i + 1, j + 1))
    val plan = e.select(
        graft.functions.RandProjectExpr(col("embedding"), signs, inv).as("p"))
      .queryExecution.executedPlan
    val stages = plan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(stages.exists(_.collectFirst {
      case p: org.apache.spark.sql.execution.ProjectExec
        if p.projectList.exists(_.exists(_.isInstanceOf[graft.functions.RandProjectExpr])) => p
    }.nonEmpty), s"projection fell out of codegen:\n$plan")
  }

  test("NaN and infinite elements poison all lanes like the decimal twin") {
    val inv = Projection.exactInvRoot(4).get
    val signs = Array.tabulate(4, 8)((j, i) =>
      Projection.sign("rp", i + 1, j + 1))
    val df = Seq(
      (1L, Array.tabulate(8)(i => if (i == 3) Float.NaN else 1f)),
      (2L, Array.tabulate(8)(i => if (i == 5) Float.PositiveInfinity else 1f)))
      .toDF("id", "v")
    val rows = df.select(col("id"),
        graft.functions.RandProjectExpr(col("v"), signs, inv).as("p"))
      .orderBy("id").collect()
    rows.foreach(r => assert(r.getSeq[Any](1).forall(_ == null)))
  }

  test("elements past dimIn are ignored by native, twin, and therefore equally") {
    val inv = Projection.exactInvRoot(4).get
    val signs = Array.tabulate(4, 8)((j, i) =>
      Projection.sign("rp", i + 1, j + 1))
    val long = Seq((1L, Array.tabulate(12)(i => (i + 1).toFloat)))
      .toDF("id", "v")
    val both = long.select(
      graft.functions.RandProjectExpr(col("v"), signs, inv).as("nat"),
      ExprTwins.hofProjection(col("v"), 8, 4, "rp").as("hof"))
    val r = both.collect().head
    assert(r.getSeq[Double](0) === r.getSeq[Double](1))
    // and equals the projection of the truncated vector
    val trunc = Seq((1L, Array.tabulate(8)(i => (i + 1).toFloat))).toDF("id", "v")
      .select(graft.functions.RandProjectExpr(col("v"), signs, inv).as("p"))
      .collect().head.getSeq[Double](0)
    assert(r.getSeq[Double](0) === trunc)
  }

  test("null and short vectors poison all lanes to null") {
    val inv = Projection.exactInvRoot(4).get
    val signs = Array.tabulate(4, 8)((j, i) =>
      Projection.sign("rp", i + 1, j + 1))
    val df = Seq(
      (1L, Array.tabulate(8)(_.toFloat)),          // well-formed
      (2L, Array.tabulate(5)(_.toFloat))           // short
    ).toDF("id", "v")
      .union(Seq((3L, null.asInstanceOf[Array[Float]])).toDF("id", "v"))
    val rows = df.select(col("id"),
        graft.functions.RandProjectExpr(col("v"), signs, inv).as("p"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[Any](1).forall(_ != null))
    assert(rows(1).getSeq[Any](1).forall(_ == null))
    assert(rows(2).isNullAt(1))
  }

  test("sign matrix is deterministic and tag-sensitive") {
    val a = (1 to 8).map(i => Projection.sign("rp", i, 1))
    assert(a === (1 to 8).map(i => Projection.sign("rp", i, 1)))
    assert(a.exists(_ == 1) || a.exists(_ == -1))
    val b = (1 to 64).flatMap(i => (1 to 16).map(j => Projection.sign("alt", i, j)))
    val c = (1 to 64).flatMap(i => (1 to 16).map(j => Projection.sign("rp", i, j)))
    assert(b !== c)
  }
}
