package dpbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.catalyst.plans.LeftOuter
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import scala.collection.mutable

/** Minimal JSON encoder for the record file (numbers, strings, booleans,
  * sequences and string-keyed maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** One JSON object per line; run.py reads the file after the JVM exits. */
final class Records(path: String) {
  private val out = new java.io.PrintWriter(
    new java.io.OutputStreamWriter(new java.io.FileOutputStream(path), "UTF-8"))
  def emit(kind: String, fields: (String, Any)*): Unit = {
    out.println(Json(mutable.LinkedHashMap[String, Any]("type" -> kind) ++= fields))
    out.flush()
  }
  def close(): Unit = out.close()
}

final case class Span(id: Int, name: String, start: Double, end: Double,
    parent: Int, release: String)

/** Spans around the benchmark's own calls into each layer. Times are
  * seconds since `origin`; the job/stage listener maps its epoch-ms
  * timestamps onto the same axis. Spans stay in memory until the run ends.
  * With `on = false` a span is just its body. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val originNs = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var release = ""

  def now: Double = (System.nanoTime() - originNs) / 1e9
  def all: Seq[Span] = spans.toSeq

  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, now, Double.NaN, parent, release)
    stack = id :: stack
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    val start = spans(id).start
    try body
    finally {
      spans(id) = Span(id, name, start, now, parent, release)
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Span of one release; tags its Spark jobs with the release id. */
  def release[T](id: String)(body: => T): T = {
    release = id
    sc.setLocalProperty(Tracer.ReleaseProp, id)
    try span("release")(body)
    finally { sc.setLocalProperty(Tracer.ReleaseProp, null); release = "" }
  }

  def spanName(id: Int): String = if (id >= 0 && id < spans.length) spans(id).name else ""
}

object Tracer {
  val ReleaseProp = "dpbench.release"
  val SpanProp = "dpbench.span"
}

/** Job, stage and task records tied to releases by the local properties the
  * tracer sets. */
final class JobListener extends SparkListener {
  final class StageRec(val stageId: Int, val attempt: Int) {
    var submit = 0L; var complete = 0L
    var cpuNs = 0L; var gcMs = 0L; var swRecords = 0L; var swBytes = 0L
    var srRecords = 0L; var spill = 0L; var inputRecords = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  final class JobRec(val jobId: Int, val release: String, val span: Int,
      val submit: Long, val stageIds: Seq[Int]) {
    var end = 0L
  }
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  private def stage(id: Int, attempt: Int): StageRec =
    stages.getOrElseUpdate((id, attempt), new StageRec(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    prop(e.properties, Tracer.ReleaseProp).foreach { r =>
      val span = prop(e.properties, Tracer.SpanProp).map(_.toInt).getOrElse(-1)
      jobs += new JobRec(e.jobId, r, span, e.time, e.stageIds)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.srRecords += m.shuffleReadMetrics.recordsRead
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stage(i.stageId, i.attemptNumber())
    s.submit = i.submissionTime.getOrElse(0L)
    s.complete = i.completionTime.getOrElse(0L)
  }
}

/** Counts read off an executed physical plan, descending through AQE query
  * stages. The `dp` figures come from SQL metrics of the DPEngine stages:
  * bounding windows are told apart by their partition spec (privacy unit
  * and partition key = Linf; privacy unit alone = L0/L1). */
object PlanStats {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case _: ReusedExchangeExec => Nil // reuse: no new work to count
    case other => other.children
  }
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)
  private def wrapper(p: SparkPlan): Boolean = p match {
    case _: AdaptiveSparkPlanExec | _: QueryStageExec | _: WholeStageCodegenExec |
         _: InputAdapter | _: ReusedExchangeExec => true
    case _ => false
  }
  /** First descendant that is not a codegen/AQE wrapper. */
  private def below(p: SparkPlan): Option[SparkPlan] =
    children(p).headOption.flatMap(c => if (wrapper(c)) below(c) else Some(c))
  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)
  private def names(e: Seq[Expression]): Seq[String] =
    e.flatMap(_.references.map(_.name))
  private def hasUdf(e: Expression): Boolean = e.exists(_.isInstanceOf[ScalaUDF])

  val PidCol = "__graft_pid"
  val PidCntCol = "__graft_pidcnt"

  def apply(plan: SparkPlan): Map[String, Double] = {
    val all = nodes(plan)
    val real = all.filterNot(wrapper)
    val exchanges = all.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val windows = real.collect { case w: WindowExec => w }
    var linfRows, l0Rows, linfSortMs, l0SortMs = 0L
    real.foreach {
      case f: FilterExec => below(f) match {
        case Some(w: WindowExec) if names(w.partitionSpec).contains(PidCol) =>
          val sortMs = Iterator.iterate(below(w))(_.flatMap(below)).takeWhile(_.isDefined)
            .flatten.collectFirst { case s: SortExec => metric(s, "sortTime") }.getOrElse(0L)
          if (w.partitionSpec.size > 1) { linfRows += metric(f, "numOutputRows"); linfSortMs += sortMs }
          else { l0Rows += metric(f, "numOutputRows"); l0SortMs += sortMs }
        case _ =>
      }
      case _ =>
    }
    val merge = real.collect {
      case a: BaseAggregateExec
          if a.aggregateExpressions.exists(_.mode == Final) &&
            a.output.exists(_.name == PidCntCol) && !names(a.groupingExpressions).contains(PidCol) => a
    }
    // the outer join that adds empty public partitions to the merge output
    def publicJoin(p: SparkPlan, t: org.apache.spark.sql.catalyst.plans.JoinType) =
      t == LeftOuter && p.output.exists(_.name == PidCntCol)
    val publicRows = real.collect {
      case j: SortMergeJoinExec if publicJoin(j, j.joinType) => metric(j, "numOutputRows")
      case j: HashJoin if publicJoin(j, j.joinType) => metric(j, "numOutputRows")
    }.sum
    val selected = real.collect {
      case f: FilterExec if hasUdf(f.condition) && f.child.output.exists(_.name == PidCntCol) =>
        metric(f, "numOutputRows")
    }
    Map(
      "plan.operators" -> real.size.toDouble,
      "plan.exchanges" -> exchanges.toDouble,
      "plan.windows" -> windows.size.toDouble,
      "dp.linf.rows_out" -> linfRows.toDouble,
      "dp.linf.sort_s" -> linfSortMs / 1e3,
      "dp.l0.rows_out" -> l0Rows.toDouble,
      "dp.l0.sort_s" -> l0SortMs / 1e3,
      "dp.merge.rows_out" -> merge.map(metric(_, "numOutputRows")).sum.toDouble,
      "dp.merge.agg_s" -> merge.map(metric(_, "aggTime")).sum / 1e3,
      "dp.public.rows_out" -> publicRows.toDouble,
      "dp.select.rows_out" -> selected.sum.toDouble)
  }
}
