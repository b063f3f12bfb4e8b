package dpbench

import graft.SparkEntry
import graft.core._
import graft.spark._
import org.apache.spark.DpBenchBus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** JVM side of the DP-release benchmark. Runs one workload in one
  * `local[N]` session and writes raw records (one JSON object per line) to
  * the file named by `--records`; `dpbench/run.py` turns them into metrics.
  *
  * A release is one call from the public entry point (`DPEngine.aggregate`
  * or a `SparkEntry.queries` constructor) through `computeBudgets()` and
  * Catalyst planning to a fully consumed `queryExecution.toRdd.count()`.
  *
  * Usage: DpBench --workload W --seed S --seconds T --trace 0|1
  *          --work DIR --records FILE [--data DIR --sample FILE] */
object DpBench {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, records: String, data: String, sample: String)

  /** What a release's build step hands to the timed consumer; `metricCols`
    * is non-zero for the benchmark's own DPEngine releases. */
  final case class Built(df: DataFrame, mechanisms: Int = 0, metricCols: Int = 0)
  final case class Release(name: String, family: String, var inputRows: Long,
      build: Tracer => Built)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv("work"), kv("records"),
      kv.getOrElse("data", ""), kv.getOrElse("sample", ""))
    val rec = new Records(o.records)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dpbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rec.emit("session", "s" -> (System.currentTimeMillis() - jvmStartMs) / 1e3,
      "cores" -> cores)
    try new Run(spark, o, rec).run()
    finally { rec.close(); spark.stop() }
  }

  /** Uniform [0, 1) double from (id, seed, salt): the generated inputs are a
    * pure function of the seed, independent of partitioning. */
  def u01(seed: Long, salt: Int): Column =
    shiftrightunsigned(xxhash64(col("id"), lit(seed), lit(salt)), 11).cast("double") /
      lit(9007199254740992.0)

  def family(name: String): String =
    if (name.startsWith("dp_range_")) "range_tree"
    else if (name.startsWith("dp_ldp_")) "ldp"
    else if (name.startsWith("ss_dp_")) "continual"
    else if (name.startsWith("dp_")) "dp_aggregate"
    else "ops"

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def mechanisms(a: BudgetAccountant): Int =
    a.budgetStory.linesIterator.count(_.matches("""\s+\d+\. .*"""))

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  final class Run(spark: SparkSession, o: Opts, rec: Records) {
    private val sc = spark.sparkContext
    private val untraced = new Tracer(false, sc)

    /** Consumes a release's frame; traced runs force each Catalyst phase in
      * turn so planning and execution get their own spans. */
    private def consume(t: Tracer, df: DataFrame): Unit =
      if (!t.on) df.queryExecution.toRdd.count()
      else {
        val qe = df.queryExecution
        t.span("plan.analyze")(qe.analyzed)
        t.span("plan.optimize")(qe.optimizedPlan)
        t.span("plan.physical")(qe.executedPlan)
        t.span("exec")(qe.toRdd.count())
      }

    private def dropCheckpoints(): Unit =
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

    private def errorText(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

    /** One timed release. Failures are recorded, never timed as successes. */
    private def runRelease(r: Release, pass: Int, t: Tracer,
        listener: Option[JobListener]): Unit = {
      val id = s"$pass:${r.name}"
      var built: Built = null
      var err: String = null
      val start = t.now
      try t.release(id) { built = r.build(t); consume(t, built.df) }
      catch { case e: Throwable => err = errorText(e) }
      val end = t.now
      dropCheckpoints()
      val fields = mutable.ArrayBuffer[(String, Any)](
        "id" -> id, "pass" -> pass, "name" -> r.name, "family" -> r.family,
        "start" -> start, "end" -> end, "ok" -> (err == null), "error" -> err,
        "input_rows" -> r.inputRows, "traced" -> t.on)
      listener.filter(_ => err == null).foreach { l =>
        DpBenchBus.drain(sc)
        fields ++= execStats(l, id, t)
        fields ++= PlanStats(built.df.queryExecution.executedPlan)
        fields += "mechanisms" -> built.mechanisms
        fields += "metric_cols" -> built.metricCols
      }
      rec.emit("release", fields.toSeq: _*)
    }

    private def execStats(l: JobListener, id: String, t: Tracer): Seq[(String, Any)] =
      l.synchronized {
        val jobs = l.jobs.filter(_.release == id)
        val ids = jobs.flatMap(_.stageIds).toSet
        val stages = l.stages.values.filter(s => ids.contains(s.stageId) && s.taskMs.nonEmpty).toSeq
        val slowest = stages.sortBy(s => -(s.complete - s.submit)).headOption
        val skew = slowest.map { s =>
          val d = s.taskMs.map(_.toDouble).toSeq
          val m = median(d)
          if (m > 0) d.max / m else 1.0
        }.getOrElse(0.0)
        Seq(
          "jobs" -> jobs.size,
          "construct_jobs" -> jobs.count(j => t.spanName(j.span) == "entry.construct"),
          "stages" -> stages.size,
          "tasks" -> stages.map(_.taskMs.size).sum,
          "cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
          "gc_s" -> stages.map(_.gcMs).sum / 1e3,
          "shuffle_write_records" -> stages.map(_.swRecords).sum,
          "shuffle_write_bytes" -> stages.map(_.swBytes).sum,
          "shuffle_read_records" -> stages.map(_.srRecords).sum,
          "spill_bytes" -> stages.map(_.spill).sum,
          "input_records" -> stages.map(_.inputRecords).sum,
          "task_skew" -> skew)
      }

    private def runPass(rs: Seq[Release], pass: Int, t: Tracer,
        listener: Option[JobListener]): Unit = {
      val start = t.now
      rs.foreach(runRelease(_, pass, t, listener))
      rec.emit("pass", "pass" -> pass, "traced" -> t.on, "wall_s" -> (t.now - start))
    }

    def run(): Unit = {
      val w: Workload = o.workload match {
        case "dp_bound_heavy" => new BoundHeavy(spark, o, rec)
        case "entry_mix" => new EntryMix(spark, o, rec)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      // set-up: input generation + parquet write, repeated so its median is
      // steady; then one untimed warm pass
      val genS = (1 to w.setupReps).map { _ => val t0 = System.nanoTime(); w.generate(); secs(t0) }
      val releases = w.releases()
      val warm0 = System.nanoTime()
      w.warm(releases, untraced)
      rec.emit("setup", "gen_s" -> genS, "warm_s" -> secs(warm0))

      // output checks: untimed, and run before the timed passes so the same
      // code paths are hot when timing starts
      val check0 = System.nanoTime()
      w.check()
      rec.emit("checked", "s" -> secs(check0))

      // timed passes, tracing off: a fixed count that takes about --seconds
      // on a quiet host, so every run has the same number of samples (and
      // release_p90_s always stands for the same percentile)
      val rng = new scala.util.Random(o.seed)
      val passes = math.max(1, math.ceil(o.seconds / w.nominalPassS).toInt)
      val t0 = System.nanoTime()
      (0 until passes).foreach(p => runPass(w.order(releases, rng), p, untraced, None))
      rec.emit("timed", "wall_s" -> secs(t0), "passes" -> passes)

      // traced pass: spans around every layer call, job/stage records
      if (o.trace) {
        val tracer = new Tracer(true, sc)
        val listener = new JobListener
        sc.addSparkListener(listener)
        val start = tracer.now
        tracer.span("run")(runPass(w.order(releases, rng), passes, tracer, Some(listener)))
        DpBenchBus.drain(sc)
        sc.removeSparkListener(listener)
        emitSpans(tracer, listener)
        rec.emit("traced", "wall_s" -> (tracer.now - start))
      }

      // host-load control: a fixed pure-Spark job that no graft code touches
      val control = (1 to 3).map { _ =>
        val c0 = System.nanoTime()
        spark.range(0L, 20000000L, 1L, sc.defaultParallelism)
          .selectExpr("sum(hash(id) % 1000) as s").collect()
        secs(c0)
      }
      rec.emit("control", "s" -> control)
      val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      rec.emit("rss", "peak_mb" -> hwm.getOrElse(Double.NaN))
    }

    /** Benchmark spans plus Spark job/stage spans from the listener; a job's
      * parent is the benchmark span it started in, a stage's is its job. */
    private def emitSpans(t: Tracer, l: JobListener): Unit = {
      val spans = t.all
      spans.foreach(s => rec.emit("span", "id" -> s.id, "name" -> s.name, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "release" -> s.release))
      def at(ms: Long): Double = (ms - t.originEpochMs) / 1e3
      var next = spans.size
      val seen = mutable.Set.empty[Int]
      l.jobs.foreach { j =>
        val jid = next; next += 1
        rec.emit("span", "id" -> jid, "name" -> "exec.job", "start" -> at(j.submit),
          "end" -> at(if (j.end > 0) j.end else j.submit), "parent" -> j.span, "release" -> j.release)
        l.stages.values.filter(s => j.stageIds.contains(s.stageId) && s.complete > 0 &&
            seen.add(s.stageId * 1000 + s.attempt)).foreach { s =>
          rec.emit("span", "id" -> next, "name" -> "exec.stage", "start" -> at(s.submit),
            "end" -> at(s.complete), "parent" -> jid, "release" -> j.release)
          next += 1
        }
      }
    }
  }

  /** A workload: its inputs, its release set and its output check. */
  abstract class Workload(val spark: SparkSession, val o: Opts, val rec: Records) {
    /** Wall time of one timed pass on a quiet 4-core host. */
    def nominalPassS: Double
    def setupReps: Int = 3
    def generate(): Unit
    def releases(): IndexedSeq[Release]
    def warm(rs: IndexedSeq[Release], t: Tracer): Unit =
      rs.foreach { r =>
        try r.build(t).df.queryExecution.toRdd.count()
        catch { case _: Throwable => () } // a failing release is counted by the timed passes
      }
    def order(rs: IndexedSeq[Release], rng: scala.util.Random): Seq[Release] = rs
    def check(): Unit

    protected val cores: Int = spark.sparkContext.defaultParallelism
    protected def path(name: String) = s"${o.work}/input/$name.parquet"

    /** Runs `body`, recording a thrown exception as a failed check. */
    protected def guarded(name: String)(body: => (Boolean, String)): Unit = {
      val t0 = System.nanoTime()
      val (ok, detail) =
        try body catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      rec.emit("check", "name" -> name, "ok" -> ok, "detail" -> detail, "s" -> secs(t0))
    }

    protected def collectBy(df: DataFrame, key: String, cols: String*): Map[Long, Seq[Double]] =
      df.select((col(key).cast("long") +: cols.map(c => col(c).cast("double"))): _*).collect()
        .map(r => r.getLong(0) -> (1 to cols.size).map(i => if (r.isNullAt(i)) Double.NaN else r.getDouble(i)))
        .toMap

    protected def relErrorP50(released: Map[Long, Seq[Double]], exact: Map[Long, Seq[Double]]): Double =
      median(released.toSeq.map { case (k, v) =>
        val e = exact.get(k).map(_.head).getOrElse(0.0)
        math.abs(v.head - e) / math.max(e, 1.0)
      })
  }

  /** Zipf-skewed privacy units over 500 private partitions; every bounding
    * window binds; PLD accounting with Secure noise. */
  final class BoundHeavy(spark: SparkSession, o: Opts, rec: Records) extends Workload(spark, o, rec) {
    val Rows = 300000L
    val Units = 100000L
    val Keys = 500
    val L0 = 4
    val Linf = 2
    val L1 = 8
    def nominalPassS = 4.0
    lazy val input: DataFrame = spark.read.parquet(path("bound_heavy"))
    lazy val units: Long = input.select("pid").distinct().count()

    def generate(): Unit =
      spark.range(0L, Rows, 1L, cores).select(
        // continuous Zipf(1): log-uniform unit rank, a handful of units hold >= 1% of rows
        (floor(exp(u01(o.seed, 1) * lit(math.log(Units + 1.0)))) - 1).cast("long").as("pid"),
        floor(u01(o.seed, 2) * Keys).cast("long").as("pk"),
        floor(u01(o.seed, 3) * 100).cast("double").as("value"))
        .write.mode("overwrite").parquet(path("bound_heavy"))

    private val cols = DPColumns("pid", "pk", "value")
    val countSumMean = AggregateParams(Seq(Metric.Count, Metric.Sum, Metric.Mean),
      noiseKind = NoiseKind.Gaussian, maxPartitionsContributed = L0,
      maxContributionsPerPartition = Some(Linf), minValue = Some(0.0), maxValue = Some(100.0))
    val percentiles = AggregateParams(Seq(Metric.Percentile(50), Metric.Percentile(90)),
      noiseKind = NoiseKind.Laplace, maxPartitionsContributed = L0,
      maxContributionsPerPartition = Some(Linf), minValue = Some(0.0), maxValue = Some(100.0))
    val l1Count = AggregateParams(Seq(Metric.Count), noiseKind = NoiseKind.Laplace,
      maxContributions = Some(L1))

    private def pld() = new PLDBudgetAccountant(2.0, 1e-5, pldDiscretization = 1e-3)
    private def generous() = new NaiveBudgetAccountant(1e4, 1e-3)

    def release(name: String, p: AggregateParams, acc: () => BudgetAccountant,
        noise: NoiseSource): Release =
      Release(name, "dp_aggregate", Rows, t => {
        val a = acc()
        val res = t.span("entry.construct")(new DPEngine(a, noise).aggregate(input, p, cols))
        t.span("core.budgets")(a.computeBudgets())
        val df = t.span("entry.construct")(res.dataframe)
        Built(df, mechanisms(a), p.metrics.size)
      })

    def releases(): IndexedSeq[Release] = IndexedSeq(
      release("count_sum_mean_gaussian", countSumMean, pld, NoiseSource.Secure),
      release("p50_p90_laplace", percentiles, pld, NoiseSource.Secure),
      release("l1_count_laplace", l1Count, pld, NoiseSource.Secure))

    private def collect(p: AggregateParams, acc: BudgetAccountant, noise: NoiseSource,
        c: String*): Map[Long, Seq[Double]] = {
      val res = new DPEngine(acc, noise).aggregate(input, p, cols)
      acc.computeBudgets()
      collectBy(res.dataframe, "pk", c: _*)
    }

    def check(): Unit = {
      val exact = collectBy(input.groupBy("pk").agg(count(lit(1)).as("n"),
        sum("value").as("s"), avg("value").as("m")), "pk", "n", "s", "m")
      guarded("zero_noise_unbound_equals_groupby") {
        val open = countSumMean.copy(maxPartitionsContributed = Keys,
          maxContributionsPerPartition = Some(1000000))
        val got = collect(open, generous(), NoiseSource.Zero, "count", "sum", "mean")
        val bad = exact.keySet.union(got.keySet).filterNot { k =>
          (got.get(k), exact.get(k)) match {
            case (Some(Seq(c, s, m)), Some(Seq(ec, es, em))) =>
              // with Mean requested, sum and mean derive from centered sums
              c == ec && close(s, es) && close(m, em)
            case _ => false
          }
        }
        (bad.isEmpty, s"partitions=${got.size}/${exact.size} mismatched=${bad.size} e.g. " +
          bad.take(3).map(k => s"$k: ${got.get(k)} vs ${exact.get(k)}").mkString("; "))
      }
      guarded("zero_noise_bound_caps") {
        val got = collect(countSumMean, generous(), NoiseSource.Zero, "count", "sum")
        val over = got.filter { case (k, v) =>
          exact.get(k).forall(e => v(0) > e(0) || v(1) > e(1)) }
        val total = got.values.map(_.head).sum
        val cap = units.toDouble * L0 * Linf
        rec.emit("bounding", "kept_rows" -> total, "input_rows" -> Rows)
        (over.isEmpty && total <= cap && total < Rows,
          s"over_exact=${over.size} total=$total cap=$cap rows=$Rows")
      }
      guarded("zero_noise_l1_cap") {
        val got = collect(l1Count, generous(), NoiseSource.Zero, "count")
        val over = got.count { case (k, v) => exact.get(k).forall(e => v.head > e.head) }
        val total = got.values.map(_.head).sum
        (over == 0 && total <= units.toDouble * L1, s"over_exact=$over total=$total cap=${units * L1}")
      }
      guarded("zero_noise_percentiles_in_range") {
        val got = collect(percentiles, generous(), NoiseSource.Zero, "percentile_50", "percentile_90")
        val bad = got.count { case (_, Seq(p50, p90)) => !(0 <= p50 && p50 <= p90 && p90 <= 100) }
        (got.nonEmpty && bad == 0, s"partitions=${got.size} out_of_order=$bad")
      }
      guarded("secure_noise_utility") {
        val got = collect(countSumMean, pld(), NoiseSource.Secure, "count")
        val err = relErrorP50(got, exact)
        rec.emit("utility", "count_rel_error_p50" -> err, "released" -> got.size, "candidates" -> exact.size)
        (got.nonEmpty && err > 0 && err < 1, s"count_rel_error_p50=$err released=${got.size}")
      }
    }
  }

  /** A fixed sample of the committed `SparkEntry.queries`, run as committed
    * on the oracle-scale tables; the warm pass writes each output for the
    * DuckDB oracle check in run.py. */
  final class EntryMix(spark: SparkSession, o: Opts, rec: Records) extends Workload(spark, o, rec) {
    override def setupReps: Int = 0
    def nominalPassS = 8.0
    def generate(): Unit = ()
    private val names: Seq[String] =
      scala.io.Source.fromFile(o.sample).getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

    def releases(): IndexedSeq[Release] = names.map { n =>
      val fn = SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"sample names unknown query $n"))
      Release(n, family(n), 0L, t => Built(t.span("entry.construct")(fn(spark, o.data))))
    }.toIndexedSeq

    /** Warm passes: the first writes every output (checked against the
      * oracle after the run) and counts the input records each query reads;
      * a second, plain pass follows because the first pass after the cold
      * one still ran 10-15% slower. */
    override def warm(rs: IndexedSeq[Release], t: Tracer): Unit = {
      val sc = spark.sparkContext
      val listener = new JobListener
      sc.addSparkListener(listener)
      val oracle = SparkEntry.oracleSql
      rs.foreach { r =>
        sc.setLocalProperty(Tracer.ReleaseProp, r.name)
        val t0 = System.nanoTime()
        val err = try {
          r.build(t).df.coalesce(1).write.mode("overwrite").parquet(s"${o.work}/out/${r.name}")
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}" }
        sc.setLocalProperty(Tracer.ReleaseProp, null)
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        DpBenchBus.drain(sc)
        val stageIds = listener.jobs.filter(_.release == r.name).flatMap(_.stageIds).toSet
        r.inputRows = listener.stages.values.filter(s => stageIds.contains(s.stageId))
          .map(_.inputRecords).sum
        rec.emit("output", "name" -> r.name, "ok" -> (err == null), "error" -> err,
          "path" -> s"${o.work}/out/${r.name}", "oracle_sql" -> oracle.get(r.name),
          "input_rows" -> r.inputRows, "s" -> secs(t0))
      }
      sc.removeSparkListener(listener)
      super.warm(rs, t)
    }

    override def order(rs: IndexedSeq[Release], rng: scala.util.Random): Seq[Release] =
      rng.shuffle(rs)

    /** Utility probe on the committed tables: one Secure-noise count per
      * supplier with binding caps (unit = order), against the exact count. */
    def check(): Unit = guarded("secure_noise_utility") {
      val lineitem = spark.read.parquet(s"${o.data}/lineitem.parquet")
      val a = new NaiveBudgetAccountant(1.0, 1e-6)
      val res = new DPEngine(a, NoiseSource.Secure).aggregate(lineitem,
        AggregateParams(Seq(Metric.Count), maxPartitionsContributed = 4,
          maxContributionsPerPartition = Some(1)),
        DPColumns("l_orderkey", "l_suppkey"))
      a.computeBudgets()
      val got = collectBy(res.dataframe, "l_suppkey", "count")
      val exact = collectBy(lineitem.groupBy("l_suppkey").agg(count(lit(1)).as("n")), "l_suppkey", "n")
      val err = relErrorP50(got, exact)
      rec.emit("utility", "count_rel_error_p50" -> err, "released" -> got.size, "candidates" -> exact.size)
      (got.nonEmpty && err > 0 && err < 1, s"count_rel_error_p50=$err released=${got.size}")
    }
  }
}
