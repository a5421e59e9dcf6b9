package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: set-up samples, warm-up, the timed pass
  * and, with `--trace 1`, the traced pass. Results go to a JSON file; the
  * caller checks the written outputs against the DuckDB oracle.
  *
  * A pass runs the query list once, closed-loop: one query at a time, each
  * built by `SparkEntry.queries(name)`, planned, and written with the
  * parquet writer to `<out>/<pass>/<name>`. A query that throws is recorded
  * with its error and no time.
  *
  * Arguments (all required): `--queries a,b,c --dir <fixture> --warm-dir
  * <fixture> --seconds s --trace 0|1 --setups n --out <dir> --result <file>
  * --table-rows t=n,...`
  */
object Harness {
  final case class QueryRun(
      name: String, build: Double, plan: Double, exec: Double, error: Option[String],
      tables: Set[String], trackerMs: Map[String, Double]) {
    def seconds: Double = build + plan + exec
  }

  /** One pass; its time is the sum of its queries' times, so that the
    * traced pass's bookkeeping between queries is not counted. */
  final case class Pass(queries: Seq[QueryRun], tmpLeft: Int, layers: Map[String, Double]) {
    def seconds: Double = queries.map(_.seconds).sum
  }

  /** Queries that exist only to prove the benchmark fails loudly: one
    * throws, one returns a wrong answer to `q_dim_join`'s oracle. */
  val planted: Map[String, (SparkSession, String) => DataFrame] = Map(
    "planted_throw" -> ((_, _) => throw new IllegalStateException("planted failure")),
    "planted_wrong" -> ((s, d) => SparkEntry.queries("q_dim_join")(s, d).limit(3)))
  private val oracleOf = Map("planted_wrong" -> "q_dim_join")

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val names = a("queries").split(",").toSeq
    val tableRows = a("table-rows").split(",").map(_.split("=")).map(kv => kv(0) -> kv(1).toLong).toMap
    val trace = a("trace") == "1"
    val out = a("out")
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n, planted(n)))

    // set-up: a fresh session from GraftSession.local() up to its first result
    var spark: SparkSession = null
    val setup = (1 to a("setups").toInt).map { _ =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      timed {
        spark = GraftSession.local()
        spark.range(1).count()
      }._2
    }
    val cores = spark.sparkContext.defaultParallelism

    def runQuery(name: String, fn: (SparkSession, String) => DataFrame, dir: String, path: String,
        phases: Boolean): QueryRun = {
      val sc = spark.sparkContext
      def phase[T](p: String)(body: => T): (T, Double) = {
        if (phases) sc.setLocalProperty(Phase.Key, p)
        timed(body)
      }
      try {
        val (df, b) = phase(Phase.Build)(fn(spark, dir))
        val (_, p) = phase(Phase.Plan)(df.queryExecution.executedPlan)
        val trackerMs = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
        val (_, e) = phase(Phase.Exec)(df.write.mode("overwrite").parquet(path))
        val tables = df.queryExecution.analyzed.collectLeaves().collect {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
            r.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
        }.flatten.toSet
        QueryRun(name, b, p, e, None, tables, trackerMs)
      } catch {
        case NonFatal(t) => QueryRun(name, 0, 0, 0, Some(t.toString.take(500)), Set.empty, Map.empty)
      } finally if (phases) sc.setLocalProperty(Phase.Key, null)
    }

    def pass(dir: String, tag: String): Pass = {
      Pass(fns.map { case (n, fn) => runQuery(n, fn, dir, s"$out/$tag/$n", phases = false) }, 0, Map.empty)
    }

    // Everything a pass leaves in the temporary directory is counted and
    // deleted, so that passes and runs stay independent.
    def sweepTmp(keep: Set[String]): Int = {
      val left = Option(tmp.listFiles()).getOrElse(Array.empty[File]).filterNot(f => keep(f.getName))
      left.foreach(deleteTree)
      left.length
    }

    val warm = pass(a("warm-dir"), "warm")
    deleteTree(new File(out))
    val keep = tmp.list().toSet

    // closed loop: at least one pass, and another while the passes so far
    // say it will end within `--seconds`
    val budget = a("seconds").toDouble
    def loop(run: Int => Pass): Vector[Pass] = {
      val t0 = System.nanoTime()
      var passes = Vector(run(0))
      while (secondsSince(t0) * (passes.size + 1) / passes.size <= budget) passes :+= run(passes.size)
      passes
    }

    // timed pass: no listeners
    val timedPasses = loop(i => pass(a("dir"), s"timed/p$i").copy(tmpLeft = sweepTmp(keep)))
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    // traced pass, then the timed pass again without listeners: the tracing
    // overhead is the traced pass against the two timed passes around it,
    // so that the warm-up the JVM gains between them cancels out
    val (tracedPasses, timedAfter) = if (!trace) (Vector.empty, Vector.empty) else {
      val sc = spark.sparkContext
      val tasks = new PhaseListener
      val streams = new StreamListener
      val executions = new ExecutionListener
      sc.addSparkListener(tasks)
      spark.streams.addListener(streams)
      spark.listenerManager.register(executions)
      val traced = loop { i =>
        val plans = new Counts
        val runs = fns.map { case (n, fn) =>
          val r = runQuery(n, fn, a("dir"), s"$out/traced/p$i/$n", phases = true)
          ListenerBusAccess.drain(sc)
          executions.take().foreach { qe =>
            val plan = qe.executedPlan
            PlanStats.fuzzy(plan, plans)
            PlanStats.writes(plan, s"traced/p$i/$n", plans).foreach(PlanStats.shape(_, plans))
          }
          if (r.error.isEmpty) {
            plans.add("build.s", r.build)
            plans.add("plan.s", r.plan)
            plans.add("exec.s", r.exec)
            r.trackerMs.foreach { case (k, ms) => plans.add(s"plan.${k}_ms", ms) }
          }
          r
        }
        Pass(runs, sweepTmp(keep), tasks.counts.drain() ++ streams.counts.drain() ++ plans.drain())
      }
      sc.removeSparkListener(tasks)
      spark.streams.removeListener(streams)
      spark.listenerManager.unregister(executions)
      (traced, loop(i => pass(a("dir"), s"timed_after/p$i").copy(tmpLeft = sweepTmp(keep))))
    }
    spark.stop()

    Files.writeString(Paths.get(a("result")), Json(Map(
      "setup_s" -> setup,
      "cores" -> cores,
      "peak_rss_mb" -> peakRssMb,
      "rows_per_pass" -> timedPasses.headOption.map(_.queries.flatMap(_.tables.toSeq.map(t =>
        tableRows.getOrElse(t, 0L))).sum).getOrElse(0L),
      "warm" -> passJson(warm),
      "timed" -> timedPasses.map(passJson),
      "traced" -> tracedPasses.map(passJson),
      "timed_after" -> timedAfter.map(passJson),
      "oracle" -> names.map(n => n -> SparkEntry.oracleSql.get(oracleOf.getOrElse(n, n))).toMap)))
  }

  private def passJson(p: Pass): Map[String, Any] = Map(
    "seconds" -> p.seconds,
    "tmp_dirs_left" -> p.tmpLeft,
    "layers" -> p.layers,
    "queries" -> p.queries.map(q => Map(
      "name" -> q.name, "build_s" -> q.build, "plan_s" -> q.plan, "exec_s" -> q.exec,
      "error" -> q.error.orNull)))

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
  }
}
