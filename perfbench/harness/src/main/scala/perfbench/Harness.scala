package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.Random
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import org.apache.spark.sql.SparkSession
import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** One benchmark run in one JVM, driving graft through its public entry
  * points exactly as `graft.Bench.runOnce` does: build the key's
  * DataFrame with `SparkEntry.queries(key)(spark, dir)`, then evaluate it
  * with a `noop` write. One client, closed loop: a key starts when the
  * previous key's write has returned.
  *
  * Arguments are `name=value` pairs:
  *   data      table directory the keys read
  *   keys      comma-separated key list
  *   seed      permutes the key order of every pass
  *   warmup    untraced passes after the cold one, counted in set-up
  *   passes    measured passes; a traced run alternates untraced and
  *             traced passes, starting and ending untraced (odd count)
  *   trace     1: alternate traced and untraced passes in the window
  *   cpus      local[cpus]
  *   timeout   seconds after which a key's jobs are cancelled
  *   check     directory for each key's output (parquet)
  *   out       result JSON file
  *
  * Phases: session start, one cold pass that also captures each key's
  * output for the oracle comparison and `warmup` further passes (together
  * reported as set-up), the measured window, a forced GC for the live-heap figure, and in traced
  * runs the sources-layer probe.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dir = opt("data")
    val keys = opt("keys").split(",").toSeq
    val seed = opt("seed").toLong
    val warmupPasses = opt("warmup").toInt
    val measuredPasses = opt("passes").toInt
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val timeoutMs = (opt("timeout").toDouble * 1000).toLong

    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", GraftSession.shufflePartitionsFor(dir, cpus).toLong)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = sinceJvmStart()
    val tracer = new Tracer(spark)
    val queries = SparkEntry.queries
    val failures = mutable.LinkedHashMap[String, String]()

    // A key that outlives `timeout` has its jobs cancelled, which makes
    // its write throw; it then counts as failed.
    @volatile var deadline = Long.MaxValue
    val watchdog = new Thread(() => while (true) {
      Thread.sleep(200)
      if (System.currentTimeMillis() > deadline) { deadline = Long.MaxValue; spark.sparkContext.cancelAllJobs() }
    })
    watchdog.setDaemon(true)
    watchdog.start()

    /** Runs `body` for one key; a throw marks the key failed. */
    def guarded(key: String)(body: => Unit): Unit =
      try {
        deadline = System.currentTimeMillis() + timeoutMs
        body
      } catch {
        case e: Throwable =>
          failures.getOrElseUpdate(key, s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
      } finally deadline = Long.MaxValue

    val samples = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()

    val checkDir = opt("check")

    /** One pass over every key not yet failed. `capture` writes each key's
      * output as parquet (the way graft.Verify writes it) for the oracle
      * check instead of evaluating it into the noop sink. */
    def runPass(index: Int, kind: String, trace: Boolean, capture: Boolean = false): Unit = {
      val order = new Random(seed * 1000003L + index).shuffle(keys)
      // Deliver the previous pass's late events (task, SQL and stream
      // progress ends) before tracing is switched, so none of them is
      // counted in, or filed under, this pass.
      tracer.drain()
      tracer.enabled = trace
      val p0 = System.nanoTime()
      for (key <- order if !failures.contains(key)) {
        val run = s"$key#$index"
        tracer.current = run
        spark.sparkContext.setLocalProperty(Tracer.KeyProp, run)
        val t0 = System.nanoTime(); val m0 = System.currentTimeMillis()
        guarded(key) {
          val df = queries(key)(spark, dir)
          val t1 = System.nanoTime(); val m1 = System.currentTimeMillis()
          if (capture) df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$key")
          else df.write.mode("overwrite").format("noop").save()
          val t2 = System.nanoTime(); val m2 = System.currentTimeMillis()
          samples += Map("key" -> key, "pass" -> index, "construct_s" -> (t1 - t0) / 1e9, "wall_s" -> (t2 - t0) / 1e9)
          if (trace) tracer.synchronized {
            tracer.spans += Span("key", "key", run, m0, m2)
            tracer.spans += Span("construct", "queries", run, m0, m1)
            tracer.spans += Span("write", "write", run, m1, m2)
          }
        }
        if (trace) tracer.drain()
      }
      passes += Map("index" -> index, "kind" -> kind, "traced" -> trace,
        "wall_s" -> (System.nanoTime() - p0) / 1e9, "order" -> order)
      tracer.drain()
      tracer.enabled = false
      spark.sparkContext.setLocalProperty(Tracer.KeyProp, null)
    }

    // Set-up is the session start plus one cold pass, which also captures
    // the outputs the oracle check compares, and the warm-up passes.
    runPass(0, "cold", trace = false, capture = true)
    for (index <- 1 to warmupPasses) runPass(index, "warm", trace = false)
    val setupS = sinceJvmStart()

    // Measured window. In a traced run every traced pass sits between two
    // untraced ones, which gives the tracing overhead.
    for (i <- 1 to measuredPasses)
      runPass(warmupPasses + i, "measured", trace = traced && i % 2 == 0)

    val heapLiveMb = liveHeapMb()

    // Sources layer: each table loaded on its own, timed, jobs counted.
    val sources = if (!traced) Seq.empty else {
      val tables = Option(new java.io.File(dir).list()).toSeq.flatten
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
      tables.map { t =>
        val reps = (1 to 3).map { _ =>
          tracer.drain()
          val j0 = tracer.jobsStarted.get(); val t0 = System.nanoTime()
          if (t == "events") Tables.events(spark, dir) else Tables.table(spark, dir, t)
          val ms = (System.nanoTime() - t0) / 1e6
          tracer.drain()
          (ms, tracer.jobsStarted.get() - j0)
        }
        (t, reps.map(_._1).sorted.apply(1), reps.map(_._2).max)
      }
    }

    val oracles = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
    spark.stop()

    val result = Map(
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "heap_live_mb" -> heapLiveMb,
      "cpus" -> cpus,
      "seed" -> seed,
      "passes" -> passes,
      "samples" -> samples,
      "failures" -> failures,
      "oracle_sql" -> oracles,
      "sources" -> sources.map { case (t, ms, jobs) => Map("table" -> t, "ms" -> ms, "jobs" -> jobs) },
      "counters" -> tracer.counters.toMap,
      "spans" -> tracer.spans.map(s => Seq(s.name, s.layer, s.run, s.start, s.end)),
      "tasks" -> tracer.tasks.map { case (run, a, b) => Seq(run, a, b) },
      "trigger_cols" -> Tracer.TriggerCols,
      "triggers" -> tracer.triggers.map { case (run, v) => run +: v })
    Files.writeString(Paths.get(opt("out")), Serialization.write(result)(DefaultFormats))
  }

  /** Heap in use after full collections. Spark's ContextCleaner frees
    * broadcast, shuffle and checkpoint blocks only after a collection has
    * cleared their weak references, so collect until two readings agree
    * to within 1 MB (at most ten rounds). */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (Double.MaxValue, collect(), 1)
    while (prev - cur > 1 && rounds < 10) {
      Thread.sleep(200)
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}
