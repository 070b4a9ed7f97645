package linkbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.collection.mutable

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.LinkbenchBus
import org.apache.spark.sql.SparkSession

import graft.Caches

/** One benchmark process: one Spark session at local[cores], one client in
  * a closed loop running one iteration at a time. Every iteration starts
  * with Caches.invalidate, so it redoes all of its work.
  *
  * Untraced (--trace 0): one warm-up iteration, then plain iterations until
  * --seconds have passed (at least one). Traced (--trace 1): the warm-up,
  * then plain and traced iterations alternate (at least one pair), so the
  * tracing overhead is measured in the same process. The raw result (every iteration, span and
  * counter, plus the run record) goes to --out as JSON; run.py turns it
  * into metrics.
  *
  * Arguments: --workload --data --seconds --trace --cores --launched-ns
  * (epoch ns at which the JVM was launched) --work (scratch directory for
  * Spark) --out [--dump (pair_family: write results for the oracle check)]
  */
object Main {
  /** Writes the run result (Scala maps, sequences, numbers) as JSON. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private def epochNs(): Long = {
    val i = Instant.now(); i.getEpochSecond * 1000000000L + i.getNano
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val localDir = s"${a("work")}/spark-local"
    Files.createDirectories(Paths.get(localDir))
    val freeBefore = new File(localDir).getUsableSpace

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"linkbench-$workload")
      // the session settings graft.Bench uses
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cores * 8).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val probe = new Probe
    sc.addSparkListener(probe)
    val sessionReadyS = (epochNs() - a("launched-ns").toLong) / 1e9

    val w = Workload(workload, spark, a("data"))
    val tracer = new Tracer(spark, probe)
    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]

    def attempt(body: => Outcome): Outcome =
      try body
      catch {
        case e: Exception =>
          Outcome(Map.empty, Map.empty, Seq(s"iteration failed: $e".take(500)))
      }

    def record(it: Int, kind: String, wall: Double, o: Outcome): Double = {
      LinkbenchBus.drain(sc)
      iterations += Map("id" -> it, "kind" -> kind, "wall_s" -> wall,
        "ok" -> o.problems.isEmpty, "problems" -> o.problems,
        "outputs" -> o.outputs, "quality" -> o.quality, "layer" -> o.layer,
        "counters" -> probe.total(s"it$it").toJson,
        "groups" -> probe.children(s"it$it"))
      o.problems.foreach(p => System.err.println(s"[linkbench] it$it $kind: $p"))
      System.err.println(f"[linkbench] it$it%-3d $kind%-7s $wall%8.3f s")
      wall
    }

    def plain(it: Int, kind: String): Double = {
      System.gc()
      sc.setJobGroup(s"it$it", kind)
      val t0 = System.nanoTime()
      val o = try attempt { Caches.invalidate(spark); w.plain(it) }
      finally sc.clearJobGroup()
      record(it, kind, (System.nanoTime() - t0) / 1e9, o)
    }

    def traced(it: Int): Double = {
      System.gc()
      val o = attempt(tracer.span(it, "iteration") {
        Caches.invalidate(spark); w.traced(it, tracer)
      })
      val root = tracer.spans.filter(s => s.iteration == it && s.parent < 0).last
      record(it, "traced", (root.endNs - root.startNs) / 1e9, o)
    }

    val warmupS = plain(0, "warmup")
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var it = 1
    if (!trace) {
      while (it == 1 || elapsed < seconds) { plain(it, "plain"); it += 1 }
    } else {
      while (it == 1 || elapsed < seconds) {
        plain(it, "plain"); traced(it + 1); it += 2
      }
    }
    val measuredS = elapsed

    val extras = if (!trace) Map.empty[String, Any] else try w.extras() catch {
      case e: Exception => Map("extras_error" -> e.toString)
    }
    (w, a.get("dump")) match {
      case (pf: PairFamily, Some(dir)) => pf.dumpForOracle(dir)
      case _ =>
    }

    val conf = (sc.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq)
      .sortBy(_._1).toMap
    val result = Map(
      "setup" -> Map("session_ready_s" -> sessionReadyS, "warmup_s" -> warmupS,
        "setup_s" -> (sessionReadyS + warmupS), "measured_s" -> measuredS),
      "record" -> Map(
        "workload" -> workload, "nproc" -> cores,
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark_version" -> spark.version,
        "spark_conf" -> conf,
        "local_dir" -> localDir,
        "local_dir_free_bytes_before" -> freeBefore,
        "local_dir_free_bytes_after" -> new File(localDir).getUsableSpace),
      "extras" -> extras,
      "iterations" -> iterations.toSeq,
      "spans" -> tracer.spans.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "iteration" -> s.iteration,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "counters" -> (s.counters.toJson - "task_ms"))))
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(result))
    spark.stop()
  }
}
