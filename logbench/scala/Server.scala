package logbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

import graft.GraftSession
import graft.log.{LogConfig, LogManifest, SparkLog}
import graft.server.{HttpLogServer, LogService}
import graft.server.grpc.GrpcLogServer

/** Spark work done on the server session: jobs, stages, tasks. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, runMs, inputBytes = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  def reset(): Unit = Seq(jobs, stages, tasks, runMs, inputBytes).foreach(_.set(0L))

  def values: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "executor_run_ms" -> runMs.get, "input_bytes" -> inputBytes.get
  )
}

/** The system under test, composed from the program's public classes in a
  * JVM of its own. `Server <workDir> <cpus>` reads one command per line on
  * stdin and answers with one line on stdout:
  *
  *   - `setup <workload> <seed> <traced 0|1> <logDir>` → `READY <s> <grpcPort> <httpPort>`
  *   - `begin`    resets the counters at the start of a measured phase → `BEGUN`
  *   - `snapshot` freezes the counters at its end → `SNAPPED`
  *   - `dump <file>` writes them plus the on-disk layout → `DUMPED`
  *   - `teardown` stops the servers → `DOWN`; the log stays on disk (run.py
  *     deletes every log once the run is over)
  *   - `quit`
  */
object Server {

  private final class Round(
      val dir: String,
      val grpc: GrpcLogServer,
      val http: HttpLogServer,
      val seq0: Long
  )

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def reply(s: String): Unit = { println(s); System.out.flush() }

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val cpus = args(1)
    val t0 = System.nanoTime()
    val spark = GraftSession
      .builder(cpus)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    reply(f"SESSION ${secs(t0)}%.3f")

    val tracer = new Tracer
    val counters = new SparkCounters
    var listening = false
    var round: Option[Round] = None
    var gcBase = (0L, 0L)
    var snap: Map[String, Any] = Map.empty
    var spans: Vector[Span] = Vector.empty

    def teardown(): Unit = round.foreach { r =>
      r.http.stop()
      r.grpc.stop()
      round = None
    }

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      try line.split(" ").toList match {
        case "setup" :: workload :: seed :: traced :: dir :: Nil =>
          val t = System.nanoTime()
          val isTraced = traced == "1"
          if (isTraced && !listening) { spark.sparkContext.addSparkListener(counters); listening = true }
          val config =
            if (workload == "catchup") LogConfig(maxRecordsPerSegment = Plan.CatchupRecordsPerSegment)
            else LogConfig()
          val log =
            if (isTraced) new TracedSparkLog(spark, dir, config, tracer) else SparkLog(spark, dir, config)
          val seq0 = LogManifest.readWithSeq(dir).map(_._1).getOrElse(0L)
          if (workload == "catchup") {
            var next = 0L
            Plan.catchupBatches(seed.toLong).foreach { n =>
              log.append((0 until n).map(i => Plan.payload(seed.toLong, next + i)))
              next += n
            }
          }
          val service = if (isTraced) new TracedLogService(log, tracer) else new LogService(log)
          val grpc = new GrpcLogServer(service, anonymousSubject = "root", bindHost = Some("127.0.0.1")).start()
          val http = new HttpLogServer(service, bindHost = Some("127.0.0.1")).start()
          round = Some(new Round(dir, grpc, http, seq0))
          reply(f"READY ${secs(t)}%.9f ${grpc.boundPort} ${http.boundPort}")

        case "begin" :: Nil =>
          tracer.clear()
          counters.reset()
          gcBase = gcTotals()
          ManagementFactory.getThreadMXBean.resetPeakThreadCount()
          reply("BEGUN")

        case "snapshot" :: Nil =>
          // The listener bus delivers events asynchronously.
          Thread.sleep(300)
          val r = round.get
          val (gcMs, gcCount) = gcTotals()
          val threadsPeak = ManagementFactory.getThreadMXBean.getPeakThreadCount
          snap = Map(
            "grpc" -> r.grpc.stats.map { case (k, (calls, errors)) =>
              val lat = r.grpc.latencies.get(k)
              k -> Map(
                "calls" -> calls, "errors" -> errors,
                "p50_ms" -> lat.map(_.p50Millis).getOrElse(0.0),
                "p99_ms" -> lat.map(_.p99Millis).getOrElse(0.0)
              )
            },
            "http" -> r.http.latencies.map { case (k, s) =>
              k -> Map("calls" -> s.count, "p50_ms" -> s.p50Millis)
            },
            "spark" -> counters.values,
            "jvm" -> Map(
              "gc_ms" -> (gcMs - gcBase._1),
              "gc_count" -> (gcCount - gcBase._2),
              "threads_peak" -> threadsPeak,
              "heap_after_gc_mb" -> liveHeapMb()
            )
          )
          spans = tracer.snapshot()
          reply("SNAPPED")

        case "dump" :: file :: Nil =>
          val r = round.get
          Json.writeFile(
            file,
            Map(
              "peak_rss_mb" -> peakRssMb(),
              "snapshot" -> snap,
              "disk" -> disk(r)
            )
          )
          writeSpans(file + ".spans.tsv", spans)
          reply("DUMPED")

        case "teardown" :: Nil =>
          teardown()
          reply("DOWN")

        case other => reply(s"ERROR unknown command: ${other.mkString(" ")}")
      } catch {
        case e: Exception =>
          e.printStackTrace()
          reply(s"ERROR ${String.valueOf(e.getMessage).replace('\n', ' ')}")
      }
      line = in.readLine()
    }
    teardown()
    spark.stop()
  }

  private def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  /** Heap in use after a full collection: the live data the server holds. */
  private def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`). */
  private def peakRssMb(): Double =
    Files
      .readAllLines(Paths.get("/proc/self/status"))
      .asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  /** Layout counters read from the log directory after the run. */
  private def disk(r: Round): Map[String, Any] = {
    val files = Files.walk(Paths.get(r.dir)).iterator().asScala.filter(Files.isRegularFile(_)).toVector
    val parts = files.filter(_.getFileName.toString.endsWith(".parquet"))
    val perSegment = parts.groupBy(_.getParent.getFileName.toString).values.map(_.size)
    val (seq, m) = LogManifest.readWithSeq(r.dir).get
    Map(
      "records" -> (m.nextOffset - m.lowestOffset),
      "parts" -> parts.size,
      "manifest_swaps" -> (seq - r.seq0),
      "max_files_per_segment" -> (if (perSegment.isEmpty) 0 else perSegment.max),
      "disk_bytes" -> files.map(Files.size).sum,
      "segments" -> m.segments.size
    )
  }

  private def writeSpans(file: String, spans: Vector[Span]): Unit = {
    val sb = new StringBuilder("id\tparent\tname\treq\tthread\tstart\tend\trecords\tfirst\n")
    spans.foreach { s =>
      sb ++= s"${s.id}\t${s.parent}\t${s.name}\t${s.reqId}\t${s.thread}\t${s.start}\t${s.end}\t" +
        s"${s.records}\t${s.firstRecord}\n"
    }
    Files.write(Paths.get(file), sb.toString.getBytes("UTF-8"))
    ()
  }
}
