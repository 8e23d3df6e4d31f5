package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import graft.core.GraftSession

/** One benchmark run inside one JVM: set-up (repeated), warm-up, then a
  * closed loop of ops from a single client thread for `--seconds`. Writes
  * the raw run record (and, traced, the span dump) as JSON; the Python
  * runner turns it into metrics.
  *
  * Untraced runs time ops only. A traced run alternates untraced and
  * traced ops: traced ops record one span per module call and attach a
  * SparkListener for that op alone, so the two halves give the tracing
  * overhead.
  */
object Main {

  private def arg(a: Map[String, String], k: String): String =
    a.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))

  private def readFile(p: String): String =
    Try(new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)).getOrElse("")

  private def loadavg(): String = readFile("/proc/loadavg").split("\\s+").take(3).mkString(" ")

  private def peakRssMb(): Double =
    readFile("/proc/self/status").linesIterator
      .collectFirst { case l if l.startsWith("VmHWM:") => l.replaceAll("[^0-9]", "").toDouble / 1024.0 }
      .getOrElse(Double.NaN)

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val a        = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name     = arg(a, "workload")
    val inputs   = arg(a, "inputs")
    val work     = arg(a, "work")
    val runS     = arg(a, "seconds").toDouble
    val trace    = arg(a, "trace") == "1"
    val warmup   = arg(a, "warmup").toInt
    val reps     = arg(a, "setup-reps").toInt
    val maxOps   = a.getOrElse("max-ops", Int.MaxValue.toString).toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()

    val cpus     = Runtime.getRuntime.availableProcessors()
    val spark    = GraftSession.local(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sc       = spark.sparkContext
    val record   = mutable.LinkedHashMap[String, Any]()
    val tr       = new Tracer
    var exit     = 0
    try {
      val wl = Workload(name, spark, inputs, work)
      val (_, loadS) = seconds(wl.load())
      val setupS = (1 to reps).map(r => seconds(wl.setup(r))._2)

      var i          = 0
      val warmErrors = mutable.ArrayBuffer[String]()
      val (_, warmS) = seconds {
        while (i < warmup && i < wl.capacity) {
          Try(wl.op(i, tr).check()) match {
            case Success(c) => c.error.foreach(warmErrors += _)
            case Failure(e) => warmErrors += e.toString
          }
          i += 1
        }
      }

      val log = new EventLog
      val ops = mutable.ArrayBuffer[Map[String, Any]]()
      val t0  = System.nanoTime()
      var k   = 0
      // a traced run needs at least one op of each kind
      while (((System.nanoTime() - t0) / 1e9 < runS || (trace && k < 2)) && i < wl.capacity && k < maxOps) {
        val traced = trace && k % 2 == 1
        if (traced) { sc.addSparkListener(log); log.take(); () }
        tr.beginOp(i, traced)
        val (res, wall) = seconds(Try(wl.op(i, tr)))
        val root        = tr.endOp()
        val layers      = mutable.Map[String, Double]()
        var shuffleRecs = 0L
        root.foreach { r =>
          org.apache.spark.PerfbenchBus.drain(sc)
          val events = log.take()
          sc.removeSparkListener(log)
          val (total, noTaskS) = tr.attribute(r, events)
          shuffleRecs = total.shuffleWriteRecords
          layers ++= total.toMap
          layers("spark.no_task_s") = noTaskS
          val kids = tr.children(r)
          layers("trace.coverage") = kids.map(_.durS).sum / r.durS
          tr.spans.iterator.drop(r.id + 1).takeWhile(_.op == r.op).foreach { s =>
            val m = s"${s.name}_s"
            layers(m) = layers.getOrElse(m, 0.0) + tr.selfS(s)
          }
        }
        val (items, error) = res match {
          case Failure(e) => (0L, Some(e.toString))
          case Success(d) =>
            val c = Try(d.check()).recover { case e => Checked(Some(s"check failed: $e")) }.get
            layers ++= c.layers
            if (traced && d.resultRows > 0)
              layers("bm25.shuffle_records_per_result") = shuffleRecs.toDouble / d.resultRows
            (d.items, c.error)
        }
        ops += Map(
          "i"      -> i,
          "wall_s" -> wall,
          "items"  -> items,
          "ok"     -> error.isEmpty,
          "error"  -> error,
          "traced" -> traced,
          "layers" -> layers.toMap)
        i += 1
        k += 1
      }
      val loopS = (System.nanoTime() - t0) / 1e9

      record ++= Seq(
        "workload"           -> name,
        "nproc"              -> cpus,
        "master"             -> sc.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_max_mb"        -> Runtime.getRuntime.maxMemory / (1024.0 * 1024.0),
        "spark_version"      -> spark.version,
        "loadavg_start"      -> loadStart,
        "jvm_start_ms"       -> jvmStart,
        "session_s"          -> sessionS,
        "load_s"             -> loadS,
        "setup_reps_s"       -> setupS,
        "warmup_ops"         -> i.min(warmup),
        "warmup_s"           -> warmS,
        "warmup_errors"      -> warmErrors.toSeq,
        "setup_layers"       -> wl.setupLayers,
        "loop_s"             -> loopS,
        "ops"                -> ops.toSeq,
        "peak_rss_mb"        -> peakRssMb(),
        "loadavg_end"        -> loadavg(),
        "record_ms"          -> System.currentTimeMillis())
    } catch {
      case e: Throwable =>
        record("fatal") = e.toString
        e.printStackTrace()
        exit = 1
    } finally {
      def json(v: AnyRef): Array[Byte] =
        org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats).getBytes(StandardCharsets.UTF_8)
      Files.write(Paths.get(arg(a, "out")), json(record.toMap))
      if (trace) Files.write(Paths.get(arg(a, "spans")), json(tr.toJson))
      spark.stop()
    }
    sys.exit(exit)
  }
}
