package perfbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark JVM. Reads a plan written by `run.py`, builds a session,
  * runs one warm-up op, prints `READY`, then runs the plan's ops
  * closed-loop with one client until the plan's deadline. Every op goes through the program's public entry points:
  * `PipelineMain.runCli` for pipeline ops, `SparkEntry.queries` consumed
  * through `Bench.consume` for query ops. Results — one record per op, and
  * the listener records of traced ops — go to the plan's `out` file, which
  * `run.py` checks and reduces outside the timed region.
  *
  *   java -cp <classpath> perfbench.Harness plan.json
  */
object Harness {
  private val om = new ObjectMapper()

  final case class Op(key: String, node: JsonNode)

  def main(args: Array[String]): Unit = {
    val plan = om.readTree(new java.io.File(args(0)))
    val workload = plan.get("workload").asText
    val queryMode = workload == "query_mix"
    val cores = plan.get("cores").asInt
    val work = plan.get("work").asText

    val conf = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // The query workload builds its session the way graft.Bench does.
    val spark = (if (queryMode) graft.core.Tuning.adaptive(conf) else conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sfDir = Option(plan.get("sf_dir")).map(_.asText).getOrElse("")
    val outRoot = s"$work/out"
    var opCounter = 0

    /** Run one op; returns its record. Never throws for a non-fatal error:
      * the error is recorded and counted as a failure by run.py. */
    def runOp(op: Op, tag: String, tracer: Option[Tracer], dir: String): JMap[String, AnyRef] = {
      val rec = new JMap[String, AnyRef]()
      rec.put("key", op.key)
      opCounter += 1
      val memo0 = memoTotal()
      tracer.foreach { t =>
        spark.sparkContext.addSparkListener(t)
        spark.listenerManager.register(t)
      }
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        if (queryMode) {
          val df = graft.SparkEntry.queries(op.key)(spark, dir)
          t1 = System.nanoTime()
          graft.Bench.consume(df)
        } else {
          val out = s"$outRoot/$tag$opCounter"
          rec.put("data", s"$out/data")
          rec.put("curated", s"$out/curated")
          val rc = graft.core.PipelineMain.runCli(spark, op.node.get("csv").asText,
            s"$out/data", s"$out/curated",
            op.node.get("pre").asDouble, op.node.get("post").asDouble)
          rec.put("rc", Int.box(rc))
        }
      } catch {
        case NonFatal(e) =>
          rec.put("error", s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
      }
      val t2 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      rec.put("wall_s", Double.box((t2 - t0) / 1e9))
      if (queryMode && t1 > t0) {
        rec.put("build_s", Double.box((t1 - t0) / 1e9))
        rec.put("consume_s", Double.box((t2 - t1) / 1e9))
      }
      rec.put("memo_s", Double.box(memoTotal() - memo0))
      rec.put("start_ms", Long.box(startMs))
      rec.put("end_ms", Long.box(endMs))
      tracer.foreach { t =>
        org.apache.spark.BusDrain.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t)
        spark.listenerManager.unregister(t)
        rec.put("trace", traceRecord(t))
      }
      rec
    }

    // ---- set-up: one warm-up op on a tiny input ----------------------
    val warm = plan.get("warmup")
    val warmRec = runOp(Op(warm.get("key").asText, warm), "warmup", None,
      Option(warm.get("sf_dir")).map(_.asText).getOrElse(""))
    println("READY")
    System.out.flush()

    val result = new JMap[String, AnyRef]()
    result.put("warmup", warmRec)
    val ops = plan.get("ops").elements().asScala.toSeq
      .map(n => Op(n.get("key").asText, n))
    val seconds = plan.get("seconds").asDouble
    val minPasses = plan.get("min_passes").asInt
    val traced = plan.get("trace").asBoolean
    val tracer = if (traced) Some(new Tracer) else None
    // A traced run leaves the cold pass untraced and traces every op in
    // half of its warm executions: warm passes go traced, untraced,
    // untraced, traced (the reverse for ops at odd positions), so JIT
    // warm-up and drift fall on both halves alike and the tracing overhead
    // compares each op with itself.
    val abba = Array(true, false, false, true)
    def traceAt(i: Int, pass: Int): Boolean = pass > 0 && (abba((pass - 1) % 4) ^ (i % 2 == 1))
    val passStep = if (traced) abba.length else 1

    val records = new JList[JMap[String, AnyRef]]()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    var i = 0
    var stop = false
    while (!stop) {
      val op = ops(i)
      val traceThis = tracer.filter(_ => traceAt(i, pass))
      val rec = runOp(op, "op", traceThis, sfDir)
      rec.put("pass", Int.box(pass))
      rec.put("traced", Boolean.box(traceThis.isDefined))
      records.add(rec)
      i += 1
      if (i == ops.size) { i = 0; pass += 1 }
      // Stop only at a pass boundary, so every pass measures the same mix;
      // a traced run also stops only after a whole traced/untraced cycle.
      stop = i == 0 && pass >= minPasses && (pass - minPasses) % passStep == 0 &&
        System.nanoTime() > deadline
    }
    result.put("ops", records)

    // ---- correctness material, outside the timed region -------------
    if (queryMode) {
      // One result dump per sampled query over the timed tables, and one of
      // the warm-up query over its own tiny tables; run.py compares each
      // with DuckDB running the query's oracle SQL over the same tables.
      val dump = plan.get("dump_dir").asText
      val errors = new JMap[String, AnyRef]()
      val warmSf = Option(warm.get("sf_dir")).map(_.asText).getOrElse("")
      val targets = (warm.get("key").asText, warmSf, "warmup") +:
        ops.map(_.key).distinct.map(n => (n, sfDir, n))
      targets.foreach { case (name, dir, id) =>
        try graft.SparkEntry.queries(name)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$dump/$id")
        catch { case NonFatal(e) =>
          errors.put(id, s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}")
        }
      }
      result.put("dump_errors", errors)
      val oracle = new JMap[String, AnyRef]()
      val sql = graft.SparkEntry.oracleSql
      targets.map(_._1).distinct.foreach(n => sql.get(n).foreach(s => oracle.put(n, s)))
      result.put("oracle_sql", oracle)
    }

    result.put("vm_hwm_kb", Long.box(vmHwmKb()))
    result.put("spark_version", spark.version)
    result.put("java_version", System.getProperty("java.version"))
    result.put("max_heap_bytes", Long.box(Runtime.getRuntime.maxMemory))
    spark.stop()
    Files.writeString(Paths.get(plan.get("out").asText), om.writeValueAsString(result))
    println("DONE")
  }

  private def memoTotal(): Double = graft.core.MemoMeter.snapshot().map(_._2).sum

  /** Peak resident set of this JVM (`VmHWM`, kB), or -1 off Linux. */
  private def vmHwmKb(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    } catch { case NonFatal(_) => -1L }

  /** The listener records of one traced op, as plain JSON-able maps. */
  private def traceRecord(t: Tracer): JMap[String, AnyRef] = {
    val (jobs, plans, stages) = t.take()
    val m = new JMap[String, AnyRef]()
    val js = new JList[JMap[String, AnyRef]]()
    jobs.foreach { j =>
      val r = new JMap[String, AnyRef]()
      r.put("id", Int.box(j.id))
      r.put("start_ms", Long.box(j.start))
      r.put("end_ms", Long.box(j.end))
      r.put("site_short", j.short)
      r.put("site", j.site)
      r.put("stages", Long.box(j.stages))
      r.put("tasks", Long.box(j.tasks))
      r.put("run_ms", Long.box(j.runMs))
      r.put("cpu_ns", Long.box(j.cpuNs))
      r.put("gc_ms", Long.box(j.gcMs))
      r.put("peak_mem", Long.box(j.peakMem))
      r.put("shuffle_bytes", Long.box(j.shuffleBytes))
      r.put("spill_bytes", Long.box(j.spillBytes))
      r.put("bytes_read", Long.box(j.bytesRead))
      r.put("bytes_written", Long.box(j.bytesWritten))
      js.add(r)
    }
    m.put("jobs", js)
    m.put("stages_completed", Long.box(stages))
    m.put("analysis_ms", Long.box(plans.map(_.analysisMs).sum))
    m.put("optimization_ms", Long.box(plans.map(_.optimizationMs).sum))
    m.put("planning_ms", Long.box(plans.map(_.planningMs).sum))
    m.put("executions", Int.box(plans.size))
    m
  }
}
