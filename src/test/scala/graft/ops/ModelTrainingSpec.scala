package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ModelTrainingSpec extends AnyFunSuite {
  lazy val spark = graft.spark.SparkTestSession.spark
  import spark.implicits._

  test("logreg trainer: separable signal learned, loss monotone-ish, weights drive the scorer") {
    // perfectly separable: positives carry 'goodword', negatives 'badword'
    val df = (1 to 300).map { i =>
      val pos = i % 2 == 0
      val filler = s"alpha beta gamma delta epsilon t$i"
      (i.toLong, if (pos) s"$filler goodword" else s"$filler badword", pos)
    }.toDF("id", "text", "label")
    val (diag, w) = ModelTraining.trainTextLogReg(df, col("text"),
      col("label"), iters = 12)
    val rows = diag.collect().sortBy(_.getLong(0))
    val losses = rows.init.map(_.getDouble(1))
    // the loss sequence improves substantially end-to-end
    assert(losses.last < 0.6 * losses.head,
      s"no real loss improvement: ${losses.head} -> ${losses.last}")
    val fin = rows.last
    assert(fin.getBoolean(4), "probe_loss_improved false")
    assert(fin.getBoolean(5), "probe_beats_majority false")
    assert(fin.getDouble(2) > 0.9,
      s"separable fixture should train past 0.9, got ${fin.getDouble(2)}")
    // the weight vector is the scorer's shape: dim + 1 with a live bias
    assert(w.length == 1025)
    assert(w.exists(_ != 0.0))
    // validation
    intercept[IllegalArgumentException](ModelTraining.trainTextLogReg(
      df, col("text"), col("label"), iters = 0))
    intercept[IllegalArgumentException](ModelTraining.trainTextLogReg(
      df, col("text"), col("label"), lr = 0.0))
    // empty frame fails loud
    val e = intercept[Exception](ModelTraining.trainTextLogReg(
      df.filter(lit(false)), col("text"), col("label"), iters = 1))
    assert(graft.spark.SparkTestSession.chainMsg(e)
      .contains("empty training frame"))
  }

  test("exact trainer: learns the separable signal, all-integer, partition-order independent") {
    val mk = (parts: Int) => (1 to 300).map { i =>
      val pos = i % 2 == 0
      val filler = s"alpha beta gamma delta epsilon t$i"
      (i.toLong, if (pos) s"$filler goodword" else s"$filler badword", pos)
    }.toDF("id", "text", "label").repartition(parts)
    val out = ModelTraining.trainTextLogRegExact(mk(4), col("text"),
      col("label"), iters = 3, lrNum = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // losses monotone on the separable fixture, final accuracy near-perfect
    val losses = (0 to 3).map(k => out(("loss", k.toLong)))
    assert(losses.sliding(2).forall { case Seq(a, b) => b < a },
      s"loss not monotone: $losses")
    val acc = out(("acc", 0L)).toDouble / out(("acc", 1L))
    assert(acc > 0.95, s"separable fixture should train past 0.95, got $acc")
    // the integer release is EXACTLY reproducible under a different
    // partitioning (the determinism the float trainer cannot offer —
    // this is the property that makes the oracle row possible)
    val out2 = ModelTraining.trainTextLogRegExact(mk(13), col("text"),
      col("label"), iters = 3, lrNum = 50L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == out2, "exact trainer diverged across partitionings")
    // single-class frame fails loud (the class-balance denominators)
    val e1 = intercept[Exception](ModelTraining.trainTextLogRegExact(
      mk(2).filter(col("label")), col("text"), col("label")))
    assert(graft.spark.SparkTestSession.chainMsg(e1).contains("single-class"))
    // an EMPTY frame reaches the designed message, not an NPE on the
    // NULL sum(y) (r19 review fix)
    val e0 = intercept[Exception](ModelTraining.trainTextLogRegExact(
      mk(2).filter(lit(false)), col("text"), col("label")))
    assert(graft.spark.SparkTestSession.chainMsg(e0)
      .contains("empty training frame"))
    // a zero-feature row fails loud rather than silently carrying no signal
    val blank = Seq((1L, "...", true), (2L, "a b c", false),
      (3L, "d e f", true)).toDF("id", "text", "label")
    val e2 = intercept[Exception](ModelTraining.trainTextLogRegExact(
      blank, col("text"), col("label"), iters = 1).collect())
    assert(graft.spark.SparkTestSession.chainMsg(e2).contains("zero features"))
  }

  test("exact k-fold CV: held-out accuracy on the separable signal, deterministic, fail-loud") {
    val mk = (parts: Int) => (1 to 300).map { i =>
      val pos = i % 2 == 0
      val filler = s"alpha beta gamma delta epsilon t$i"
      (i.toLong, if (pos) s"$filler goodword" else s"$filler badword", pos)
    }.toDF("id", "text", "label").repartition(parts)
    def run(parts: Int) = ModelTraining.crossValidateExact(mk(parts),
        col("text"), col("label"), col("id"), folds = 3, iters = 3,
        lrNum = 50L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val cv = run(4)
    assert(cv.map(_._1) == Seq(0L, 1L, 2L))
    // folds partition the corpus: per-fold train+test = 300, tests disjoint
    assert(cv.map(_._4).sum == 300L, s"test sides must cover the corpus: $cv")
    cv.foreach { case (f, nTrain, _, nTest, _, _) =>
      assert(nTrain + nTest == 300L, s"fold $f: $nTrain + $nTest != 300") }
    // the separable signal GENERALIZES: every fold's held-out accuracy
    // is near-perfect (goodword/badword appear in train and test alike)
    cv.foreach { case (f, _, _, nTest, nCorrect, _) =>
      assert(nCorrect.toDouble / nTest > 0.9,
        s"fold $f held-out accuracy ${nCorrect.toDouble / nTest}") }
    // integer release: exact across partitionings
    assert(cv == run(13), "CV diverged across partitionings")
    // a fold with a single-class train side fails loud
    val oneClass = (1 to 30).map(i => (i.toLong, s"w$i common", true))
      .toDF("id", "text", "label")
    val e = intercept[Exception](ModelTraining.crossValidateExact(
      oneClass, col("text"), col("label"), col("id")))
    assert(graft.spark.SparkTestSession.chainMsg(e).contains("single-class"))
    intercept[IllegalArgumentException](ModelTraining.crossValidateExact(
      mk(2), col("text"), col("label"), col("id"), folds = 1))
  }

  test("exact k-fold CV: two calls on one frame run under distinct job groups") {
    // a failed call cancels its own job group; a shared id would let it
    // cancel a concurrent call's folds
    val groups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith("graft-cv-")).foreach(groups.add)
    }
    val df = (1 to 60).map { i =>
      (i.toLong, s"t$i " + (if (i % 2 == 0) "goodword" else "badword"), i % 2 == 0)
    }.toDF("id", "text", "label")
    // listener events arrive asynchronously: poll until `n` groups are seen
    def awaitGroups(n: Int): Unit = {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (groups.size < n && System.nanoTime() < deadline) Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ModelTraining.crossValidateExact(df, col("text"), col("label"), col("id"),
        folds = 2, iters = 1).collect()
      awaitGroups(1)
      assert(groups.size == 1, s"first call's fold jobs: $groups")
      ModelTraining.crossValidateExact(df, col("text"), col("label"), col("id"),
        folds = 2, iters = 1).collect()
      awaitGroups(2)
      assert(groups.size == 2, s"each call needs its own job group: $groups")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
