package logbench

import java.io.{BufferedReader, InputStreamReader}
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.sparkproject.connect.grpc.Context

import graft.server.grpc.GrpcLogClient

/** The load generator: a JVM of its own that drives the server as a client
  * would, over gRPC (`GrpcLogClient`) and plain HTTP, one connection per
  * client thread. It checks every record it is handed. In a timed pass it
  * prints `STARTED` and `MEASURED` around the timed phase, waits for `go`
  * on stdin (the server snapshots its counters meanwhile), runs its
  * read-back checks and writes its samples as JSON; see `main` for the
  * commands.
  */
object Gen {

  private def now(): Long = System.nanoTime()
  private def ms(ns: Long): Double = ns / 1e6
  private def secs(ns: Long): Double = ns / 1e9

  /** A thread whose result is read by `get`. */
  private final class Worker[T](name: String)(body: => T) extends Thread(name) {
    @volatile private var result: Option[T] = None
    @volatile private var error: Throwable = _
    override def run(): Unit =
      try result = Some(body)
      catch { case t: Throwable => error = t }
    def get: T = { join(); if (error != null) throw error; result.get }
    start()
  }

  /** Requests of one client thread: when each was sent and answered
    * (nanoTime), its latency, its request key and the records it carried.
    * Latency runs from `from`: the send, or a pubsub record's due time.
    */
  private final class Samples {
    val sent, done, keys = ArrayBuffer.empty[Long]
    val lat = ArrayBuffer.empty[Double]
    val records = ArrayBuffer.empty[Int]
    def add(sentAt: Long, doneAt: Long, key: Long = -1L, n: Int = 1, from: Long = -1L): Unit = {
      sent += sentAt
      done += doneAt
      lat += ms(doneAt - (if (from >= 0) from else sentAt))
      keys += key
      records += n
    }
  }

  private def merge(xs: Seq[Samples]): Samples = {
    val out = new Samples
    xs.foreach { s =>
      out.sent ++= s.sent; out.done ++= s.done; out.lat ++= s.lat; out.keys ++= s.keys; out.records ++= s.records
    }
    out
  }

  /** One pass of the workload. A warm-up pass (`timed` false) runs the same
    * load and checks, but tells run.py nothing until it is over.
    */
  final class Run(val seed: Long, val seconds: Int, grpcPort: Int, httpPort: Int, val timed: Boolean) {
    val attempted = new AtomicLong()
    val failed = new AtomicLong()
    val violationCount = new AtomicLong()
    private val violations = new ConcurrentLinkedQueue[String]()
    private val errors = new ConcurrentLinkedQueue[String]()
    private val mapper = new ObjectMapper()

    /** `n` clients, one channel each, each connected by a health check. */
    def clients(n: Int): IndexedSeq[GrpcLogClient] = {
      val cs = (0 until n).map(_ => new GrpcLogClient("127.0.0.1", grpcPort))
      cs.foreach(_.healthCheck())
      cs
    }

    /** Starts the timed phase: run.py reads the machine's counters. */
    def started(): Long = {
      if (timed) say("STARTED")
      now()
    }

    /** Ends the timed phase: run.py snapshots the server, then says go. */
    def measured(): Unit =
      if (timed) {
        say("MEASURED")
        val line = stdin.readLine()
        require(line == "go", s"expected go, got $line")
      }

    def violation(msg: String): Unit =
      if (violationCount.incrementAndGet() <= 20) violations.add(msg)

    def fail(what: String, e: Throwable): Unit =
      if (failed.incrementAndGet() <= 20) errors.add(s"$what: $e")

    /** Counts one attempted operation; a thrown error counts it failed. */
    def op[T](what: String)(body: => T): Option[T] = {
      attempted.incrementAndGet()
      try Some(body)
      catch { case NonFatal(e) => fail(what, e); None }
    }

    /** The record at `offset` must carry the payload of its sequence number,
      * and that sequence number must be `expectSeq` when one is known.
      * Returns whether it does.
      */
    def checkRecord(where: String, offset: Long, value: Array[Byte], expectSeq: Long): Boolean = {
      val seq = if (value == null || value.length < 8) -1L else Plan.seqOf(value)
      if (expectSeq >= 0 && seq != expectSeq) {
        violation(s"$where: offset $offset holds seq $seq, expected $expectSeq")
        false
      } else if (seq < 0 || !java.util.Arrays.equals(value, Plan.payload(seed, seq))) {
        violation(s"$where: offset $offset bytes differ from the payload of seq $seq")
        false
      } else true
    }

    /** One HTTP `/tail?from=` call, reading at most `max` records. */
    def httpTail(from: Long, max: Long)(f: (Long, Array[Byte]) => Unit): Long = {
      val conn = new URL(s"http://127.0.0.1:$httpPort/tail?from=$from")
        .openConnection()
        .asInstanceOf[HttpURLConnection]
      try {
        val in = new BufferedReader(new InputStreamReader(conn.getInputStream, UTF_8))
        var n = 0L
        while (n < max && {
            val line = in.readLine()
            if (line != null && line.startsWith("data: ")) {
              val node = mapper.readTree(line.substring(6))
              f(node.get("offset").asLong, Base64.getDecoder.decode(node.get("value").asText))
              n += 1
            }
            line != null
          }) ()
        n
      } finally conn.disconnect()
    }

    /** Acked offsets of a fresh log must be exactly 0 until n, each once.
      * Returns the acked sequence number at each offset.
      */
    def checkAcks(acks: Iterable[(Long, Long)]): Array[Long] = {
      val sorted = acks.toArray.sortBy(_._1)
      val dense = sorted.indices.forall(i => sorted(i)._1 == i)
      if (!dense)
        violation(s"acked offsets are not unique and dense: ${sorted.length} acks, " +
          s"offsets ${sorted.headOption.map(_._1)}..${sorted.lastOption.map(_._1)}")
      if (dense) sorted.map(_._2) else Array.empty
    }

    /** Reads the newest `window` records back over HTTP `/tail`
      * [[ReadBacks]] times and checks them against the acks; returns each
      * read's records per second.
      */
    def readBack(seqs: Array[Long], window: Int): Seq[Double] = {
      val from = math.max(0, seqs.length - window)
      (0 until ReadBacks).flatMap { _ =>
        var expect = from.toLong
        val t = now()
        op("http read-back") {
          httpTail(from.toLong, (seqs.length - from).toLong) { (off, value) =>
            if (off != expect) violation(s"read-back: offset $off where $expect was due")
            else checkRecord("read-back", off, value, seqs(off.toInt))
            expect += 1
          }
        }.map { n =>
          if (n != seqs.length - from) violation(s"read-back from $from: $n records of ${seqs.length - from}")
          n / secs(now() - t)
        }
      }
    }

    def result(extra: Map[String, Any]): Map[String, Any] =
      Map(
        "attempted" -> attempted.get,
        "failed" -> failed.get,
        "violation_count" -> violationCount.get,
        "violations" -> violations.asScala.toVector,
        "errors" -> errors.asScala.toVector
      ) ++ extra
  }

  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  private def say(line: String): Unit = { println(line); System.out.flush() }

  /** A client group's requests, timed in seconds from `t0`, the start of
    * the timed phase.
    */
  private def samples(s: Samples, t0: Long): Map[String, Any] =
    Map(
      "sent_s" -> s.sent.map(t => secs(t - t0)),
      "done_s" -> s.done.map(t => secs(t - t0)),
      "lat_ms" -> s.lat,
      "keys" -> s.keys,
      "records" -> s.records
    )

  private def userBytes(seed: Long, seqs: Iterator[Long]): Long =
    seqs.map(s => Plan.payload(seed, s).length.toLong).sum

  /** Newest records read back over HTTP after a produce phase. */
  private val ReadBackWindow = 16
  /** Read-backs made after a produce phase; run.py reports their median. */
  private val ReadBacks = 7

  // --------------------------------------------------------------- produce

  def produce(r: Run): Map[String, Any] = {
    val acks = new ConcurrentLinkedQueue[(Long, Long)]()
    val cs = r.clients(Plan.UnaryProducers + 1)
    val t0 = r.started()
    val deadline = t0 + r.seconds * 1000000000L
    val unary = (0 until Plan.UnaryProducers).map { p =>
      new Worker(s"unary-$p")({
        val c = cs(p)
        val s = new Samples
        var seq = p * Plan.SeqBase
        try
          while (now() < deadline) {
            val value = Plan.payload(r.seed, seq)
            val a = now()
            r.op("Produce")(c.produce(value)).foreach { off =>
              s.add(a, now(), seq)
              acks.add(off -> seq)
            }
            seq += 1
          }
        finally c.close()
        s
      })
    }
    val stream = new Worker("stream")({
      val c = cs(Plan.UnaryProducers)
      val s = new Samples
      var seq = Plan.UnaryProducers * Plan.SeqBase
      try
        while (now() < deadline) {
          val seqs = seq until seq + Plan.StreamChunk
          val a = now()
          r.op("ProduceStream")(c.produceStream(seqs.map(Plan.payload(r.seed, _)))).foreach { offs =>
            s.add(a, now(), n = offs.size)
            offs.zip(seqs).foreach(acks.add)
          }
          seq += Plan.StreamChunk
        }
      finally c.close()
      s
    })
    val unaryAll = merge(unary.map(_.get))
    val ss = stream.get
    r.measured()

    val seqs = r.checkAcks(acks.asScala)
    r.result(
      Map(
        "unary" -> samples(unaryAll, t0),
        "stream" -> samples(ss, t0),
        "http_rps" -> r.readBack(seqs, ReadBackWindow),
        "user_bytes" -> userBytes(r.seed, seqs.iterator)
      )
    )
  }

  // --------------------------------------------------------------- catchup

  def catchup(r: Run): Map[String, Any] = {
    val n = Plan.CatchupRecords
    val cs = r.clients(Plan.UnaryReaders + 1)
    val t0 = r.started()
    val deadline = t0 + r.seconds * 1000000000L

    val readers = (0 until Plan.UnaryReaders).map { k =>
      new Worker(s"reader-$k")({
        val c = cs(k)
        val s = new Samples
        val offsets = Plan.readOffsets(r.seed, k)
        try
          while (now() < deadline) {
            val off = offsets.next()
            val a = now()
            r.op("Consume")(c.consume(off)).foreach { rec =>
              s.add(a, now(), off)
              r.checkRecord("Consume", off, rec.value, off)
            }
          }
        finally c.close()
        s
      })
    }
    val grpc = new Worker("consume-stream")({
      val c = cs(Plan.UnaryReaders)
      val windows = new Samples
      val starts = Plan.grpcWindowStarts(r.seed)
      try
        while (now() < deadline) {
          val start = starts.next()
          val ctx = Context.current().withCancellation()
          val prev = ctx.attach()
          try
            r.op("ConsumeStream") {
              val a = now()
              val it = c.consumeStream(start)
              var expect = start
              while (expect < start + Plan.GrpcWindow) {
                val rec = it.next()
                if (rec.offset != expect) r.violation(s"ConsumeStream: offset ${rec.offset} where $expect was due")
                else r.checkRecord("ConsumeStream", rec.offset, rec.value, rec.offset)
                expect += 1
              }
              windows.add(a, now(), start, Plan.GrpcWindow)
            }
          finally {
            ctx.detach(prev)
            ctx.cancel(null)
          }
        }
      finally c.close()
      windows
    })
    val http = new Worker("http-tail")({
      val calls = new Samples
      val starts = Plan.httpWindowStarts(r.seed)
      while (now() < deadline) {
        val start = starts.next()
        var expect = start
        val a = now()
        r.op("http tail") {
          r.httpTail(start, Plan.HttpWindow) { (off, value) =>
            if (off != expect) r.violation(s"http tail: offset $off where $expect was due")
            else r.checkRecord("http tail", off, value, off)
            expect += 1
          }
        }.foreach { got =>
          if (got != Plan.HttpWindow) r.violation(s"http tail from $start: $got records of ${Plan.HttpWindow}")
          calls.add(a, now(), start, got.toInt)
        }
      }
      calls
    })
    val reads = merge(readers.map(_.get))
    val windows = grpc.get
    val tailCalls = http.get
    r.measured()

    r.result(
      Map(
        "unary" -> samples(reads, t0),
        "stream" -> samples(windows, t0),
        "http" -> samples(tailCalls, t0),
        "grpc_stream_records" -> windows.records.sum,
        "unary_read_records" -> reads.lat.size,
        "user_bytes" -> userBytes(r.seed, (0L until n).iterator)
      )
    )
  }

  // ---------------------------------------------------------------- pubsub

  def pubsub(r: Run): Map[String, Any] = {
    val rate = if (r.timed) Plan.PubsubRate else Plan.PubsubWarmRate
    val schedules = (0 until Plan.PubsubProducers).map(p => Plan.schedule(r.seed, p, r.seconds, rate))
    def dueOf(seq: Long): Long = schedules((seq / Plan.SeqBase).toInt)((seq % Plan.SeqBase).toInt)
    val acked = new AtomicLong()
    val acks = new ConcurrentLinkedQueue[(Long, Long)]()
    val delivered = Array.fill(Plan.PubsubTails)(new AtomicLong())
    val contexts = Array.fill(Plan.PubsubTails)(Context.current().withCancellation())
    val opened = new java.util.concurrent.CountDownLatch(Plan.PubsubTails)
    val cs = r.clients(Plan.PubsubTails + Plan.PubsubProducers)
    @volatile var t0 = Long.MaxValue

    val tails = (0 until Plan.PubsubTails).map { k =>
      new Worker(s"tail-$k")({
        val c = cs(k)
        val lat = new Samples
        val seen = ArrayBuffer.empty[Long]
        val prev = contexts(k).attach()
        try
          r.op("ConsumeStream tail") {
            val it = c.consumeStream(0L)
            opened.countDown()
            try
              while (true) {
                val rec = it.next()
                val t = now()
                if (rec.offset != seen.size) r.violation(s"tail $k: offset ${rec.offset} where ${seen.size} was due")
                val seq = if (r.checkRecord(s"tail $k", rec.offset, rec.value, -1L)) Plan.seqOf(rec.value) else -1L
                if (seq >= 0) lat.add(t0 + dueOf(seq), t)
                seen += seq
                delivered(k).incrementAndGet()
              }
            catch { case NonFatal(_) if contexts(k).isCancelled => () }
          }
        finally {
          opened.countDown() // a tail that failed to open must not hold up the producers
          contexts(k).detach(prev)
          c.close()
        }
        (lat, seen)
      })
    }
    opened.await()
    Thread.sleep(300) // let both tails park at offset 0 before the first produce
    t0 = r.started() + 100000000L

    val producers = (0 until Plan.PubsubProducers).map { p =>
      new Worker(s"producer-$p")({
        val c = cs(Plan.PubsubTails + p)
        val lat, late = new Samples
        try
          schedules(p).indices.foreach { i =>
            val due = t0 + schedules(p)(i)
            while (now() < due) LockSupport.parkNanos(due - now())
            val sent = now()
            late.add(due, sent)
            val seq = p * Plan.SeqBase + i
            r.op("Produce")(c.produce(Plan.payload(r.seed, seq))).foreach { off =>
              lat.add(sent, now(), seq, from = due)
              acks.add(off -> seq)
              acked.incrementAndGet()
            }
          }
        finally c.close()
        (lat, late)
      })
    }
    def backlog(): Long = delivered.map(d => acked.get - d.get).max.max(0L)
    var backlogMax = 0L
    while (producers.exists(_.isAlive)) {
      backlogMax = backlogMax.max(backlog())
      Thread.sleep(20)
    }
    val ps = producers.map(_.get)
    val backlogEnd = backlog()
    val drainLimit = now() + 30000000000L
    while (delivered.exists(_.get < acked.get) && now() < drainLimit) Thread.sleep(5)
    r.measured()

    val seqs = r.checkAcks(acks.asScala)
    val httpRps = r.readBack(seqs, ReadBackWindow)
    contexts.foreach(_.cancel(null))
    val ts = tails.map(_.get)
    ts.zipWithIndex.foreach { case ((_, seen), k) =>
      if (seen.size != acked.get) r.violation(s"tail $k received ${seen.size} records of ${acked.get} acked")
      else if (seqs.nonEmpty && !seen.indices.forall(i => seen(i) == seqs(i)))
        r.violation(s"tail $k records differ from the acked ones")
    }
    val produced = merge(ps.map(_._1))
    val deliveries = merge(ts.map(_._1))
    r.result(
      Map(
        "unary" -> samples(produced, t0),
        "stream" -> samples(deliveries, t0),
        "http_rps" -> httpRps,
        "grpc_stream_records" -> deliveries.lat.size,
        "late_ms" -> merge(ps.map(_._2)).lat,
        "backlog_max" -> backlogMax,
        "backlog_end" -> backlogEnd,
        "user_bytes" -> userBytes(r.seed, seqs.iterator)
      )
    )
  }

  /** `Gen <workload> <seed>`, then one command per line on stdin:
    *
    *   - `warm <seconds> <grpcPort> <httpPort>` runs an untimed pass → `WARMED`
    *   - `run <seconds> <grpcPort> <httpPort> <outFile>` runs a timed pass,
    *     writes its samples and checks to `outFile` → `DONE`
    *   - `quit`
    */
  def main(args: Array[String]): Unit = {
    val Array(workload, seed) = args
    def pass(r: Run): Map[String, Any] = workload match {
      case "produce" => produce(r)
      case "catchup" => catchup(r)
      case "pubsub"  => pubsub(r)
    }
    var line = stdin.readLine()
    while (line != null && line != "quit") {
      line.split(" ").toList match {
        case "warm" :: seconds :: grpcPort :: httpPort :: Nil =>
          val r = new Run(seed.toLong, seconds.toInt, grpcPort.toInt, httpPort.toInt, timed = false)
          val result = pass(r)
          Seq("violations", "errors").foreach(k =>
            result(k).asInstanceOf[Vector[String]].foreach(v => System.err.println(s"warm-up: $v")))
          say(s"WARMED ${r.attempted.get} ${r.failed.get + r.violationCount.get}")
        case "run" :: seconds :: grpcPort :: httpPort :: out :: Nil =>
          val r = new Run(seed.toLong, seconds.toInt, grpcPort.toInt, httpPort.toInt, timed = true)
          Json.writeFile(out, pass(r) + ("workload" -> workload))
          say("DONE")
        case other => throw new IllegalArgumentException(s"unknown command: ${other.mkString(" ")}")
      }
      line = stdin.readLine()
    }
  }
}
