package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation of the closed-loop client. */
final case class OpRecord(id: Long, name: String, kind: String, round: Int,
                          startS: Double, endS: Double, traced: Boolean,
                          error: Option[String])

/** What a workload hands the timed loop: its operations per round, its
  * warm-up, and its untimed verification. */
trait Workload {
  /** Untimed: tables, views and other state the timed loop needs, on a
    * new session and under a new directory at each set-up. */
  def prepare(spark: SparkSession, dir: String): Unit
  /** Untimed: every statement once, so timed runs are JIT/codegen-warm;
    * query workloads write these executions into `out` for checking. */
  def warm(spark: SparkSession, out: String): Unit
  /** The operations of round `r`, or None when the script is spent. */
  def round(r: Int): Option[Seq[(String, String, () => Unit)]]
  /** Untimed checks; writes what the checker compares into `out`. */
  def verify(spark: SparkSession, out: String): Map[String, Any]
  /** Per-layer metrics of this workload's own layers (trace runs). */
  def layers(ops: Seq[OpRecord]): Map[String, Double] = Map.empty
}

/** The benchmark's JVM side. Sets up `--reps` times (a new session and
  * the workload's state) and times each: the first set-up also starts
  * the JVM's Spark context, later ones open a new session on it. The
  * warm-up runs once, cold, after the first set-up. Then runs the
  * closed-loop client for `--seconds`, stopping only between rounds and
  * after at least two, and the untimed verification. Writes one JSON record to `--out`. A trace
  * run is exactly two rounds, whose operations alternate between
  * listeners attached and detached, so the tracing overhead is measured
  * inside the run. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = args("workload")
    val inputs = args("inputs")
    val work = args("work")
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val seed = args("seed").toLong
    val reps = args.getOrElse("reps", "3").toInt
    val cores = args.getOrElse("cores", "4").toInt
    val opTimeoutS = 60.0
    val faults = args.get("fault").toSeq.flatMap(_.split(",")).map(_.split(":", 2))
      .collect { case Array(kind, key) => key -> kind }.toMap

    def session(first: SparkSession, rep: Int): SparkSession = {
      val s =
        if (first == null) graft.GraftSession.configure(
          SparkSession.builder()
            .master(s"local[$cores]")
            .appName("graft-perfbench")
            .config("spark.sql.shuffle.partitions", cores.toString))
          .getOrCreate()
        else first.newSession()
      s.sparkContext.setLogLevel("ERROR")
      s.conf.set("spark.graft.lakehouse.dir", s"$work/lakehouse_$rep")
      SparkSession.setActiveSession(s)
      graft.GraftSession.install(s)
    }

    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    val workload = Workloads(workloadName, inputs, faults)
    for (rep <- 1 to reps) {
      val t0 = System.nanoTime()
      spark = session(spark, rep)
      val t1 = System.nanoTime()
      workload.prepare(spark, s"$work/run_$rep")
      val t2 = System.nanoTime()
      if (rep == 1) workload.warm(spark, s"$work/verify")
      val t3 = System.nanoTime()
      setups += Map("session_s" -> (t1 - t0) / 1e9, "prepare_s" -> (t2 - t1) / 1e9,
        "warm_s" -> (t3 - t2) / 1e9)
      System.err.println(f"[perfbench] setup $rep: ${(t3 - t0) / 1e9}%.2f s")
    }

    val probe = new Probe(spark)
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val sc = spark.sparkContext
    val loopStart = System.nanoTime()
    def now(): Double = (System.nanoTime() - loopStart) / 1e9
    var r = 0
    var done = false
    while (!done) {
      workload.round(r) match {
        case None => done = true
        case Some(roundOps) =>
          roundOps.zipWithIndex.foreach { case ((name, kind, run), i) =>
            // every other operation is traced, shifted by one per round,
            // so over two rounds each operation has one traced and one
            // untraced sample
            val traced = trace && (i + r) % 2 == 0
            if (traced) probe.attach()
            val id = probe.reserveStmt()
            probe.currentStmt = id
            sc.setLocalProperty(probe.StmtKey, id.toString)
            sc.setJobGroup(s"op-$id", name, interruptOnCancel = true)
            val watchdog = new java.util.Timer(true)
            watchdog.schedule(new java.util.TimerTask {
              def run(): Unit = sc.cancelJobGroup(s"op-$id")
            }, (opTimeoutS * 1000).toLong)
            val wall0 = System.currentTimeMillis()
            val s = now()
            val err = try { run(); None } catch {
              case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
            }
            val e = now()
            watchdog.cancel()
            sc.clearJobGroup()
            val timedOut = e - s > opTimeoutS
            if (traced) probe.closeStmt(id, if (kind == "commit" || kind == "read") "lake"
              else "stmt", name, wall0, System.currentTimeMillis())
            ops += OpRecord(id, name, kind, r, s, e, traced,
              if (timedOut) Some(f"timeout after ${e - s}%.1f s") else err)
            if (traced) probe.detach()
          }
          r += 1
          // at least two rounds, so each operation's median has two
          // samples and peak memory covers the same work on a slow
          // machine; a trace run is exactly two, so its per-layer means
          // always cover the same operations
          done = r >= 2 && (trace || now() >= seconds)
      }
    }
    val wallS = now()
    sc.setLocalProperty(probe.StmtKey, null)

    val opsOut = ops.toList

    val verifyDir = s"$work/verify"
    val verification = workload.verify(spark, verifyDir)

    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L) finally status.close()

    val traceOut: Map[String, Any] =
      if (!trace) Map.empty
      else {
        val spansPath = s"$work/spans.jsonl"
        val w = Files.newBufferedWriter(Paths.get(spansPath))
        try probe.allSpans.foreach { s =>
          w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
            "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
          w.newLine()
        } finally w.close()
        Map("sums" -> probe.sums.toMap, "self" -> probe.selfTimes.map { case (k, (t, n)) =>
          k -> Map("self_s" -> t, "count" -> n) }, "spans" -> probe.allSpans.size,
          "spans_file" -> spansPath, "workload_layers" -> workload.layers(opsOut),
          "jobs_per_op" -> opsOut.filter(_.traced).map(o => o.name -> probe.jobsOf(o.id))
            .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.toDouble).sum / v.size })
      }

    val record = Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "scala_version" -> scala.util.Properties.versionNumberString,
      "setups" -> setups.toList, "wall_s" -> wallS, "rounds" -> r,
      "ops" -> opsOut.map(o => Map("name" -> o.name, "kind" -> o.kind, "round" -> o.round,
        "start_s" -> o.startS, "end_s" -> o.endS, "traced" -> o.traced,
        "error" -> o.error.orNull)),
      "verify" -> verification, "verify_dir" -> verifyDir,
      "vm_hwm_kb" -> hwmKb, "trace" -> traceOut)
    Files.writeString(Paths.get(args("out")), Json(record))
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
