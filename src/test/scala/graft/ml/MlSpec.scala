package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MlSpec extends SparkSpec {
  import spark.implicits._

  // Linearly separable two-class fixture.
  private lazy val train = {
    val rnd = new scala.util.Random(5)
    (1 to 400).map { i =>
      val label = i % 2
      val x = rnd.nextGaussian() + label * 4.0
      val y = rnd.nextGaussian() + label * 4.0
      (x, y, label)
    }.toDF("x", "y", "label")
  }

  test("feature pipeline + LR separates a separable dataset") {
    val model = MlPipeline.trainClassifier(train, Seq("x", "y"), "label", "lr")
    val scored = model.transform(train)
    val metrics = MlPipeline.classificationMetrics(scored, "label")
    assert(metrics("accuracy") > 0.95)
    assert(metrics("f1") > 0.95)
    assert(MlPipeline.aucRoc(scored, "label") > 0.98)
  }

  test("RF and GBT train through the same pipeline surface") {
    for (kind <- Seq("rf", "gbt")) {
      val m = MlPipeline.trainClassifier(train, Seq("x", "y"), "label", kind)
      val acc = MlPipeline.classificationMetrics(m.transform(train), "label")("accuracy")
      assert(acc > 0.9, kind)
    }
  }

  test("welch t-test detects a known mean shift with correct sign and scale") {
    val df = ((1 to 200).map(i => ("a", 10.0 + (i % 10))) ++
      (1 to 200).map(i => ("b", 12.0 + (i % 10)))).toDF("grp", "v")
    val r = AbTesting.compare(df, "v", "grp", "a", "b")
    assert(r.meanA === 14.5 && r.meanB === 16.5)
    assert(r.tStat < -5) // strongly negative: a < b
    assert(math.abs(r.cohensD + 2.0 / math.sqrt(8.25)) < 0.01)
  }

  test("bootstrap CI brackets the true mean difference deterministically") {
    val a = (1 to 100).map(i => 10.0 + i % 5)
    val b = (1 to 100).map(i => 12.0 + i % 5)
    val (lo, hi) = AbTesting.bootstrapMeanDiffCi(a, b, iterations = 500)
    assert(lo < -2.0 + 0.5 && hi > -2.0 - 0.5)
    assert(AbTesting.bootstrapMeanDiffCi(a, b, iterations = 500) === ((lo, hi)))
  }

  test("feature store versions, reads latest, keyed get, lineage") {
    val root = tempDir("fs")
    val fs = new FeatureStore(spark, root)
    val ts = java.time.LocalDateTime.parse("2024-01-01T00:00:00")
    val v1 = fs.ingest("cust_features", Seq((1L, 0.5), (2L, 0.7)).toDF("id", "score"), "id", ts)
    val v2 = fs.ingest("cust_features", Seq((1L, 0.6), (2L, 0.8), (3L, 0.9)).toDF("id", "score"), "id", ts)
    assert((v1, v2) === ((1, 2)))
    assert(fs.read("cust_features").count() === 3) // latest
    assert(fs.read("cust_features", Some(1)).count() === 2)
    val got = fs.getByKeys("cust_features", "id", Seq(3L)).collect()
    assert(got.length === 1 && got.head.getAs[Double]("score") === 0.9)
    assert(fs.lineage().size === 2)
  }

  test("cross-validation selects a model and reports fold metrics") {
    val cv = MlPipeline.crossValidateLr(train, Seq("x", "y"), "label", folds = 3)
    assert(cv.avgMetrics.length === 6) // 3 regParam x 2 elasticNet
    assert(cv.avgMetrics.max > 0.9)
  }

  test("keyed fold assignment is deterministic and drives CV via foldCol") {
    val keyed = train.withColumn("id", monotonically_increasing_id() + 1)
    val folds = MlPipeline.cvFoldAssignment(keyed, "id", k = 3)
    // fold = id mod 3, engine-portable
    assert(folds.filter(col("fold") =!= pmod(col("id"), lit(3)).cast("int")).count() === 0)
    assert(folds.select("fold").distinct().count() === 3)
    val cv = MlPipeline.crossValidateLrKeyed(keyed, Seq("x", "y"), "label", "id", folds = 3)
    assert(cv.avgMetrics.length === 2) // 2 regParam points
    assert(cv.avgMetrics.max > 0.9)
    // CrossValidator consumed OUR column, not its own sampler
    assert(cv.getFoldCol === "fold")
  }

  test("random search samples the declared ranges, seeded-deterministic") {
    val ranges = Seq(
      MlPipeline.ParamRange("regParam", 1e-4, 1.0, logScale = true),
      MlPipeline.ParamRange("elasticNetParam", 0.0, 1.0))
    def run() = MlPipeline.randomSearchLr(train, Seq("x", "y"), "label",
      ranges, trials = 4, folds = 2, seed = 7L)
    val a = run()
    assert(a.avgMetrics.length === 4)
    assert(a.avgMetrics.max > 0.9)
    // every sampled regParam stays inside its (log) range
    val lrStage = a.bestModel.asInstanceOf[org.apache.spark.ml.PipelineModel]
      .stages.last.asInstanceOf[org.apache.spark.ml.classification.LogisticRegressionModel]
    assert(lrStage.getRegParam >= 1e-4 && lrStage.getRegParam <= 1.0)
    // same seed -> identical trial scores
    assert(run().avgMetrics.toSeq === a.avgMetrics.toSeq)
    // log-scale sampling maps the unit interval onto the range ends
    val r = MlPipeline.ParamRange("regParam", 1e-4, 1.0, logScale = true)
    assert(math.abs(r.sample(0.0) - 1e-4) < 1e-12 && math.abs(r.sample(1.0) - 1.0) < 1e-12)
  }

  test("successive halving prunes configs each round and grows the budget") {
    val ranges = Seq(MlPipeline.ParamRange("regParam", 1e-4, 1.0, logScale = true))
    val (best, history) = MlPipeline.successiveHalvingLr(
      train, Seq("x", "y"), "label", ranges, trials = 4, seed = 11L)
    assert(best.contains("regParam"))
    // round 0 scores all 4, round 1 scores the surviving 2
    assert(history.count(_.round === 0) === 4)
    assert(history.count(_.round === 1) === 2)
    // budget doubles between rounds
    assert(history.filter(_.round === 0).forall(_.trainFraction === 0.25))
    assert(history.filter(_.round === 1).forall(_.trainFraction === 0.5))
    // survivors are exactly the top half of round 0 (ties by config index)
    val r0Top = history.filter(_.round === 0).sortBy(-_.score).take(2).map(_.params).toSet
    assert(history.filter(_.round === 1).map(_.params).toSet === r0Top)
    // deterministic under the same seed
    val (best2, history2) = MlPipeline.successiveHalvingLr(
      train, Seq("x", "y"), "label", ranges, trials = 4, seed = 11L)
    assert(best2 === best)
    assert(history2.map(_.score) === history.map(_.score))
  }

  test("bayesian search runs a seeded surrogate loop and returns the argmax trial") {
    val ranges = Seq(
      MlPipeline.ParamRange("regParam", 1e-4, 1.0, logScale = true),
      MlPipeline.ParamRange("elasticNetParam", 0.0, 1.0))
    def run() = MlPipeline.bayesianSearchLr(train, Seq("x", "y"), "label",
      ranges, initTrials = 3, iterations = 3, candidatesPerIter = 64, seed = 5L)
    val (best, history) = run()
    // init design + one EI-chosen trial per iteration
    assert(history.size === 6)
    assert(history.take(3).forall(_.phase === "init"))
    assert(history.drop(3).forall(_.phase === "bayes"))
    // every proposed config stays inside its declared (log) range
    assert(history.forall(t => t.params("regParam") >= 1e-4 && t.params("regParam") <= 1.0))
    assert(history.forall(t =>
      t.params("elasticNetParam") >= 0.0 && t.params("elasticNetParam") <= 1.0))
    // acquisition values are recorded and nonnegative
    assert(history.drop(3).forall(_.expectedImprovement >= 0.0))
    // the returned winner IS the best-scoring trial in the history
    assert(history.map(_.score).max === history.find(_.params == best).get.score)
    // bit-deterministic under the same seed
    val (best2, history2) = run()
    assert(best2 === best)
    assert(history2.map(_.score) === history.map(_.score))
    assert(history2.map(_.expectedImprovement) === history.map(_.expectedImprovement))
  }

  test("classification report: hand-computed 2x2, degenerate denominators null") {
    import org.apache.spark.sql.functions.col
    // tp=3 fp=1 fn=2 tn=4: P=3/4, R=3/5, F1=6/9, acc=7/10
    val rows = (Seq.fill(3)((true, true)) ++ Seq.fill(1)((true, false)) ++
      Seq.fill(2)((false, true)) ++ Seq.fill(4)((false, false)))
      .toDF("pred", "label")
    val r = MlPipeline.classificationReport(rows, col("pred"), col("label"))
      .collect().head
    assert((r.getAs[Long]("tp"), r.getAs[Long]("fp"),
      r.getAs[Long]("fn"), r.getAs[Long]("tn")) === ((3L, 1L, 2L, 4L)))
    assert(r.getAs[Long]("precision_micros") === 750000L)
    assert(r.getAs[Long]("recall_micros") === 600000L)
    assert(r.getAs[Long]("f1_micros") === 666667L) // floor(2/3*1e6+0.5)
    assert(r.getAs[Long]("accuracy_micros") === 700000L)
    // no positive predictions: precision null, not Infinity
    val nopos = Seq((false, true), (false, false)).toDF("pred", "label")
    val r2 = MlPipeline.classificationReport(nopos, col("pred"), col("label"))
      .collect().head
    assert(r2.isNullAt(r2.fieldIndex("precision_micros")))
    assert(r2.getAs[Long]("recall_micros") === 0L)
  }
}
