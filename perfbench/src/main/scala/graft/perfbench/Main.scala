package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side; `perfbench/run.py` builds and launches it.
  *
  *   Main run --workload W --data DIR --work DIR --cores C --warmup W
  *            --measure N --trace 0|1 --launched-ns T --out FILE
  *            [--oracle FILE] [--chain-oracle FILE]
  *   Main oracle-sql OUTDIR
  *
  * `run` starts a session and runs one cold job: session start-up,
  * counted from the JVM launch at T, plus that job is the set-up time. It
  * then runs W warm-up jobs and N measured jobs one after another, timing
  * and checking each. With `--trace 1` the N are rounds of one untraced
  * job and one traced job plus a span pass. Raw times and counts go to
  * FILE as JSON; run.py turns them into metrics.
  *
  * `oracle-sql` writes the declared DuckDB oracles of the queries the
  * near_dedup workload runs, one OUTDIR/<query>.sql each.
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => run(options(args.tail))
    case Some("oracle-sql") =>
      val dir = new File(args(1)); dir.mkdirs()
      Seq(NearDedup.Query, NearDedup.ChainQuery).foreach { q =>
        write(new File(dir, s"$q.sql"), SparkEntry.oracleSql(q))
      }
    case _ =>
      System.err.println("usage: Main run ... | Main oracle-sql OUTDIR"); sys.exit(2)
  }

  private def options(a: Array[String]): Map[String, String] =
    a.toSeq.foldLeft((Map.empty[String, String], Option.empty[String])) {
      case ((m, Some(k)), v) => (m + (k -> v), None)
      case ((m, None), k) if k.startsWith("--") => (m, Some(k.drop(2)))
      case (_, k) => throw new IllegalArgumentException(s"unexpected argument $k")
    }._1

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def epochNs: Long = {
    val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }

  /** One job: wall and process CPU seconds, and its correctness verdict. */
  private final case class JobTime(wall: Double, cpu: Double, startMs: Long, endMs: Long,
      error: Option[String]) {
    def json: Map[String, Any] =
      Map("wall_s" -> wall, "cpu_s" -> cpu, "error" -> error.orNull)
  }

  private def timeJob(w: Workload): JobTime = {
    val (m0, c0, t0) = (System.currentTimeMillis(), osBean.getProcessCpuTime, System.nanoTime())
    val result =
      try Right(w.job())
      catch { case e: Exception => Left(s"job threw ${e.getClass.getName}: ${e.getMessage}") }
    val (t1, c1, m1) = (System.nanoTime(), osBean.getProcessCpuTime, System.currentTimeMillis())
    val error = result.fold(Some(_), rows => w.check(rows))
    JobTime((t1 - t0) / 1e9, (c1 - c0) / 1e9, m0, m1, error)
  }

  private def run(o: Map[String, String]): Unit = {
    val launchedNs = o("launched-ns").toLong
    val cores = o("cores").toInt
    val (warmup, measure) = (o("warmup").toInt, o("measure").toInt)
    val trace = o("trace") == "1"
    val work = new File(o("work")).getAbsoluteFile
    val loadBefore = osBean.getSystemLoadAverage
    val spark = GraftSession.builder("perfbench")
      .master(s"local[$cores]")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (epochNs - launchedNs) / 1e9
    val workload = Workload(o("workload"), spark, new File(o("data")), work,
      o.get("oracle").map(new File(_)), o.get("chain-oracle").map(new File(_)))

    val cold = timeJob(workload)
    // launch → session up → cold job done; loading the expected answers and
    // checking the cold job's result are the benchmark's own work
    val setupS = sessionS + cold.wall
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "session_s" -> sessionS, "cold_job" -> cold.json,
      "input_bytes" -> workload.inputBytes,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory, "cores" -> cores)
    out("warmup_jobs") = Seq.fill(warmup)(timeJob(workload).json)
    val jobs = ArrayBuffer.empty[Map[String, Any]]
    def untraced(): Unit = jobs += timeJob(workload).json
    if (!trace) (1 to measure).foreach(_ => untraced())
    else out ++= traced(spark, workload, cores, o.getOrElse("run-id", "run"),
      () => untraced(), measure)
    out("jobs") = jobs.toSeq
    out("loadavg_before") = loadBefore
    out("loadavg_after") = osBean.getSystemLoadAverage
    write(new File(o("out")), Json(out.toMap))
    spark.stop()
  }

  /** The traced run: `rounds` rounds of one untraced job and one traced
    * job plus a span pass, in alternating order so that neither side is
    * always the warmer. The listener pair is registered only around the
    * traced side. */
  private def traced(spark: SparkSession, w: Workload, cores: Int, runId: String,
      untraced: () => Unit, rounds: Int): Map[String, Any] = {
    val counters = new Counters
    val tracer = new Tracer(runId)
    val jobs = ArrayBuffer.empty[(JobTime, Map[String, Double])]
    val passes = ArrayBuffer.empty[(Double, Map[String, Double], Option[String])]
    def tracedSide(): Unit = {
      Counters.drain(spark.sparkContext) // no untraced events reach the counters
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
      val m = counters.mark
      val s0 = tracer.now
      val jt = timeJob(w)
      Counters.drain(spark.sparkContext)
      val sparkMetrics = counters.since(m).metrics(jt.startMs, jt.endMs, cores)
      tracer.record("job", s0, s0 + jt.wall).counts = sparkMetrics
      jobs += ((jt, sparkMetrics))
      val (res, ps) = tracer.span("span_pass") {
        try w.spanPass(tracer, counters)
        catch { case e: Exception =>
          (Map.empty[String, Double], Some(s"span pass threw ${e.getClass.getName}: ${e.getMessage}"))
        }
      }
      passes += ((ps.seconds, res._1, res._2))
      Counters.drain(spark.sparkContext)
      spark.listenerManager.unregister(counters)
      spark.sparkContext.removeSparkListener(counters)
    }
    (0 until rounds).foreach { r =>
      if (r % 2 == 0) { untraced(); tracedSide() } else { tracedSide(); untraced() }
    }
    Map(
      "traced_jobs" -> jobs.map { case (jt, m) => jt.json + ("spark" -> m) }.toSeq,
      "span_passes" -> passes.map { case (s, m, e) =>
        Map("wall_s" -> s, "metrics" -> m, "error" -> e.orNull) }.toSeq,
      "spans" -> tracer.dump,
      "listener_totals" -> counters.totals)
  }

  private def write(f: File, s: String): Unit = {
    Option(f.getParentFile).foreach(_.mkdirs())
    Files.write(f.toPath, s.getBytes(UTF_8)); ()
  }
}

/** Minimal JSON writer for the artifact's maps, sequences and scalars. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
