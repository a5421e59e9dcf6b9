package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The three calls the harness makes into the program for each query. The
  * traced pass sets the current one as a local property before each call;
  * Spark copies local properties into every job it submits, including AQE
  * stage jobs and jobs of threads started from the caller (broadcasts,
  * streaming micro-batches). */
object Phase {
  val Key = "perfbench.phase"
  val Build = "build"
  val Plan = "plan"
  val Exec = "exec"
}

/** Named sums and maxima. */
final class Counts {
  private val m = mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit = synchronized { m(k) = m.getOrElse(k, 0.0) + v }
  def max(k: String, v: Double): Unit = synchronized { m(k) = math.max(m.getOrElse(k, 0.0), v) }
  /** The values so far, after which counting starts again from nothing. */
  def drain(): Map[String, Double] = synchronized { val r = m.toMap; m.clear(); r }
}

/** Attributes every job, stage and task to a layer: the phase that was set
  * when the job was submitted (`other` when none was), except that a job outside any SQL execution
  * whose stage is a parquet-read call site (`parquet at Tables.scala:16`)
  * is the sources layer's schema inference, whatever the phase. A stage
  * belongs to the first job that lists it. */
final class PhaseListener extends SparkListener {
  val counts = new Counts
  private val stageLayer = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val submitted = mutable.Set.empty[Int]
  private val jobLayer = mutable.Map.empty[Int, String]
  private val jobStartMs = mutable.Map.empty[Int, Long]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties).getOrElse(new Properties)
    val inference = props.getProperty("spark.sql.execution.id") == null &&
      e.stageInfos.exists(_.name.startsWith("parquet at "))
    val layer =
      if (inference) "sources" else Option(props.getProperty(Phase.Key)).getOrElse("other")
    jobLayer(e.jobId) = layer
    jobStartMs(e.jobId) = e.time
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(s => if (!stageLayer.contains(s)) stageLayer(s) = layer)
    counts.add(s"$layer.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val layer = jobLayer.getOrElse(e.jobId, "other")
    counts.add(s"$layer.job_s", (e.time - jobStartMs.getOrElse(e.jobId, e.time)) / 1e3)
    counts.add(s"$layer.stages_skipped", jobStages.getOrElse(e.jobId, Nil).count(s => !submitted(s)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counts.add(s"${stageLayer.getOrElse(e.stageInfo.stageId, "other")}.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val l = stageLayer.getOrElse(e.stageId, "other")
    val ti = e.taskInfo
    counts.add(s"$l.tasks", 1)
    if (!ti.successful) counts.add(s"$l.tasks_failed", 1)
    counts.add(s"$l.task_run_s", ti.duration / 1e3)
    // time the task waited for a free core after its stage was submitted
    stageSubmitMs.get(e.stageId).foreach(t =>
      counts.add(s"$l.sched_wait_s", math.max(0L, ti.launchTime - t) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      counts.add(s"$l.task_cpu_s", m.executorCpuTime / 1e9)
      counts.add(s"$l.gc_s", m.jvmGCTime / 1e3)
      counts.add(s"$l.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      counts.add(s"$l.shuffle_write_records", m.shuffleWriteMetrics.recordsWritten)
      counts.add(s"$l.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      counts.add(s"$l.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      counts.add(s"$l.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      counts.max(s"$l.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      if (l != "other") {
        counts.add("sources.input_rows", m.inputMetrics.recordsRead)
        counts.add("sources.input_bytes", m.inputMetrics.bytesRead)
      }
    }
  }
}

/** Micro-batch progress of every streaming query. */
final class StreamListener extends StreamingQueryListener {
  val counts = new Counts
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    def ms(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    counts.add("stream.batches", 1)
    counts.add("stream.trigger_ms", ms("triggerExecution"))
    counts.add("stream.add_batch_ms", ms("addBatch"))
    counts.add("stream.commit_ms", ms("walCommit") + ms("commitOffsets"))
    counts.max("stream.state_rows", p.stateOperators.map(_.numRowsTotal.toDouble).sum)
    counts.max("stream.state_mem_bytes", p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)
  }
}

/** Keeps every successful query execution, so that plans and their SQL
  * metrics can be read once the query has finished. */
final class ExecutionListener extends QueryExecutionListener {
  private val seen = mutable.Buffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized(seen += qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val r = seen.toList; seen.clear(); r }
}

/** Counts read from executed plans (descending into AQE query stages and
  * subqueries), with the SQL metric values of the finished execution. */
object PlanStats extends AdaptiveSparkPlanHelper {
  private val Similarity = "(?i)jaro|levenshtein".r

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  private def scores(e: Option[Expression]): Boolean =
    e.exists(x => Similarity.findFirstIn(x.toString).isDefined)

  /** The rows of the nearest node at or below `p` that counts them
    * (projections do not). */
  private def inputRows(p: SparkPlan): Option[Long] = collectFirst(p)(Function.unlift(rows))

  /** Candidate pairs scored and pairs kept by every filter or join on a
    * string-similarity score. A hash join does not count the key matches it
    * scores, so those are counted by running the join again, on its
    * already-materialized inputs, without the score condition. */
  def fuzzy(plan: SparkPlan, c: Counts): Unit = {
    def add(scored: Option[Long], kept: Option[Long]): Unit = {
      scored.foreach(c.add("fuzzymatch.pairs_scored", _))
      kept.foreach(c.add("fuzzymatch.pairs_kept", _))
    }
    collectWithSubqueries(plan) {
      case f: FilterExec if scores(Some(f.condition)) => add(inputRows(f.child), rows(f))
      case j: BroadcastNestedLoopJoinExec if scores(j.condition) =>
        add(for (l <- inputRows(j.left); r <- inputRows(j.right)) yield l * r, rows(j))
      case j: BroadcastHashJoinExec if scores(j.condition) =>
        add(Some(j.copy(condition = None).execute().count()), rows(j))
      case j: ShuffledHashJoinExec if scores(j.condition) =>
        add(Some(j.copy(condition = None).execute().count()), rows(j))
    }
  }

  /** Operator counts of a final plan. */
  def shape(plan: SparkPlan, c: Counts): Unit = {
    collectWithSubqueries(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.add("plan.exchanges", 1)
      case _: BroadcastHashJoinExec => c.add("plan.joins.broadcast", 1)
      case _: ShuffledHashJoinExec => c.add("plan.joins.shuffled_hash", 1)
      case _: SortMergeJoinExec => c.add("plan.joins.sort_merge", 1)
      case _: SortExec => c.add("plan.sorts", 1)
      case _: WindowExec => c.add("plan.windows", 1)
    }
  }

  /** Files and bytes of every file write, and the plan of the write to `out`. */
  def writes(plan: SparkPlan, out: String, c: Counts): Option[SparkPlan] = {
    var sink: Option[SparkPlan] = None
    foreach(plan) {
      case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").foreach(m => c.add("sink.files", m.value))
        w.metrics.get("numOutputBytes").foreach(m => c.add("sink.bytes", m.value))
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand if i.outputPath.toString.endsWith(out) =>
            sink = Some(w)
          case _ =>
        }
      case _ =>
    }
    sink
  }
}
