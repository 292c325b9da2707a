package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed measured time and writes the raw run record
  * (operation timings, spans, Spark events, state sizes, check results) as
  * JSON. All metrics are derived from that record by `perfbench/analyze.py`.
  *
  *   Main --workload W --data DIR --work DIR --seconds S --trace 0|1
  *        --cores K --out FILE
  *
  * With `--trace 1` timed operations of each kind alternate traced and
  * untraced: spans, the DAG's node listener and the Spark listener are on
  * for the traced ones only, so the run measures its own tracing overhead. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload"); val data = a("data"); val work = a("work")
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val state = s"$work/state"
    val local = s"$work/local"
    Files.createDirectories(Paths.get(state)); Files.createDirectories(Paths.get(local))

    val t0 = System.nanoTime()
    // the graft.Bench session settings, with every scratch directory inside `work`
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val t = new Tracer(spark)
    val rec = new SparkRecorder
    def traceOn(): Unit = {
      spark.sparkContext.addSparkListener(rec)
      t.enabled = true
    }
    def traceOff(): Unit = {
      t.enabled = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
    }

    val w: Workload = workload match {
      case "curation_batch" => new CurationBatch(spark, t, data, state)
      case "ivm_index" => new IvmIndex(spark, t, data, state)
    }
    val heap = new OldGenPeak
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val mismatches = mutable.ArrayBuffer.empty[String]

    def files(): (Long, Long) = Du(w.stateRoots)
    // bytes on disk under the state roots and Spark's local dir, sampled at
    // op boundaries before the collection that lets Spark clean shuffles
    var diskPeak = 0L
    def runOp(i: Int, timed: Boolean, traced: Boolean): Double = {
      val before = files()._1
      t.op = i
      val start = t.now
      val r = try Some(t.span("op")(w.op(i))) catch {
        case e: Throwable => failures += s"op $i: $e"; None
      }
      val dur = (t.now - start) / 1e9
      val after = files()
      diskPeak = math.max(diskPeak, after._2 + Du(Seq(local))._2)
      // events still queued for Spark's own listeners hold heap; deliver them
      // before collecting. The live set is sampled at round ends.
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      if (i + 1 >= w.opCount || w.roundOf(i + 1) != w.roundOf(i)) heap.fullGc()
      else System.gc()
      ops += Map("i" -> i, "timed" -> timed, "traced" -> traced, "ok" -> r.isDefined,
        "kind" -> r.fold("failed")(_.kind), "rows" -> r.fold(0L)(_.rows),
        "round" -> w.roundOf(i),
        "start_ns" -> start, "dur_s" -> dur,
        "write_s" -> r.fold(0.0)(_.writeS), "serves" -> r.fold(Seq.empty[Double])(_.serves),
        "files_before" -> before, "files_after" -> after._1)
      dur
    }
    var checkNs = 0L
    def check(i: Int, last: Boolean): Unit = {
      val c0 = System.nanoTime()
      try w.check(i, last).foreach(mismatches += _)
      catch { case e: Throwable => mismatches += s"check after op $i: $e" }
      checkNs += System.nanoTime() - c0
    }

    // set-up: session (above), build until the first served result, then one
    // untimed pass over the workload's own operations
    if (trace) traceOn()
    val b0 = t.now
    t.op = -1
    try t.span("build")(w.build())
    catch { case e: Throwable => failures += s"build: $e" }
    val buildEnd = t.now
    w.warmOps.foreach { i => runOp(i, timed = false, traced = trace); check(i, last = false) }
    // a batch DAG has nothing to fit: its first result is its first pass
    val buildS = (if (workload == "curation_batch") ops.head("dur_s").asInstanceOf[Double]
      else (buildEnd - b0) / 1e9)
    if (trace) traceOff()
    val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    // Untraced runs stop at the first round boundary after `seconds` of
    // operation time is measured, so every run times whole rounds. In a
    // traced run the first op of each kind is traced and later ones alternate
    // untraced/traced per kind (the untraced ones measure the overhead); it
    // runs on until every kind in the schedule was traced once and some kind
    // has an untraced op.
    val kinds = (w.firstTimedOp until w.opCount).take(64).map(w.kindOf).toSet
    val tracedN = mutable.Map.empty[String, Int].withDefaultValue(0)
    val plainN = mutable.Map.empty[String, Int].withDefaultValue(0)
    def covered = !trace || (kinds.forall(tracedN(_) > 0) && plainN.nonEmpty)
    var measured = 0.0
    var i = w.firstTimedOp
    var n = 0
    def roundEnd = n == 0 || i >= w.opCount || w.roundOf(i) != w.roundOf(i - 1)
    def more = measured < seconds || (if (trace) !covered else !roundEnd)
    while (more && i < w.opCount && failures.size < 3) {
      val k = w.kindOf(i)
      val traced = trace && tracedN(k) <= plainN(k)
      if (traced) { tracedN(k) += 1; traceOn() } else plainN(k) += 1
      measured += runOp(i, timed = true, traced = traced)
      if (traced) traceOff()
      check(i, last = false)
      i += 1; n += 1
    }
    val (storeFiles, storeBytes) = files()
    if (n > 0) check(i - 1, last = true)

    val rt = Runtime.getRuntime
    val record = Map(
      "workload" -> workload, "seconds" -> seconds, "trace" -> trace,
      "host" -> Map("cores" -> cores, "heap_max_mb" -> rt.maxMemory / 1048576.0,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version),
      "session_s" -> sessionS, "build_s" -> buildS, "setup_s" -> setupS,
      "measured_s" -> measured, "ops" -> ops.toSeq,
      "store_files" -> storeFiles, "store_bytes" -> storeBytes, "disk_peak_bytes" -> diskPeak,
      "live_heap_bytes" -> heap.peak, "checked" -> w.checked, "check_s" -> checkNs / 1e9,
      "failures" -> failures.toSeq, "mismatches" -> mismatches.toSeq,
      "spans" -> t.toJson, "spark" -> (if (trace) rec.toJson else Map.empty),
      "origin_epoch_ms" -> t.originEpochMs) ++ w.extra
    Files.write(Paths.get(a("out")), Json(record).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Peak old-generation occupancy right after a collection (JMX collection
  * usage). A full collection runs after every operation, outside its timed
  * region, so each sample is the live set the driver keeps at an operation
  * boundary rather than whatever garbage the last young collection left.
  * The first collection lets Spark's ContextCleaner release the blocks of
  * unreachable broadcasts, shuffles and RDDs on its own thread; the sample
  * is taken after a second collection, once it had time to do so. */
final class OldGenPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter { p =>
    p.getType == MemoryType.HEAP && p.getCollectionUsage != null &&
      Seq("Old", "Tenured").exists(p.getName.contains)
  }
  var peak = 0L
  def fullGc(): Unit = {
    System.gc()
    Thread.sleep(OldGenPeak.CleanerSettleMs)
    System.gc()
    pools.foreach(p => peak = math.max(peak, p.getCollectionUsage.getUsed))
  }
}

object OldGenPeak {
  val CleanerSettleMs = 300L
}

/** (files, bytes) under a set of directories. */
object Du {
  def apply(roots: Seq[String]): (Long, Long) = {
    var n = 0L; var b = 0L
    roots.map(Paths.get(_)).filter(Files.exists(_)).foreach { r =>
      val s = Files.walk(r)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).foreach { p: Path =>
        // a file retired between listing and stat no longer counts
        try { b += Files.size(p); n += 1 } catch { case _: java.io.IOException => }
      } finally s.close()
    }
    (n, b)
  }
}
