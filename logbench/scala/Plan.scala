package logbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Every seeded input of the benchmark. The server and the load generator
  * both derive their data from here, so the generator can check any record
  * it receives against the bytes that were meant to be at its offset.
  */
object Plan {

  // ------------------------------------------------------- workload shapes

  /** produce: closed loop, 3 unary producers plus 1 ProduceStream client. */
  val UnaryProducers = 3
  /** Records per ProduceStream call; all acks arrive before the next one. */
  val StreamChunk = 8

  /** catchup: records appended through SparkLog.append at set-up, in
    * seeded batches; each batch is one part, ~380 in all, so the log holds
    * ~6x as many parts as the 64-entry footer cache. Batches are uniform
    * over 1–256 records so that parts are of like size: under log-uniform
    * 1–1024 the largest 64 parts held about half the records, uniform reads
    * hit a cached footer half the time, and the read median jumped between
    * the ~3 ms hit mode and the ~20 ms miss mode from run to run.
    */
  val CatchupRecords = 49152L
  val MaxCatchupBatch = 256
  /** Lowered so the seeded log spans 6 segments. */
  val CatchupRecordsPerSegment = 8192L
  /** Records per gRPC ConsumeStream window. */
  val GrpcWindow = 48
  /** Records per HTTP /tail window. */
  val HttpWindow = 512
  val UnaryReaders = 2

  /** pubsub: open loop, aggregate produce rate over all producers. */
  val PubsubRate = 20.0
  /** Aggregate rate of the untimed pubsub warm-up pass: 2.5x the timed one,
    * so the produce, tail and read-back paths reach compiled code before
    * the timed pass instead of during it.
    */
  val PubsubWarmRate = 50.0
  val PubsubProducers = 2
  val PubsubTails = 2

  /** Sequence numbers of one producer thread start at `producer * SeqBase`. */
  val SeqBase = 1000000000L

  val MinPayload = 64
  val MaxPayload = 1024

  // --------------------------------------------------------------- streams

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Independent random stream `stream` of `seed`. */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ (stream * 0x9e3779b97f4a7c15L)))

  private val PayloadStream = 1L
  private val BatchStream = 2L
  private val ScheduleStream = 100L
  private val ReaderStream = 200L

  /** Payload of sequence number `seq`: 64–1024 bytes, the first 8 carry
    * `seq` big-endian so a record identifies the request that wrote it.
    */
  def payload(seed: Long, seq: Long): Array[Byte] = {
    val r = rng(seed, PayloadStream ^ (seq << 8))
    val out = new Array[Byte](MinPayload + r.nextInt(MaxPayload - MinPayload + 1))
    var i = 8
    while (i < out.length) {
      var w = r.nextLong()
      var k = 0
      while (k < 8 && i < out.length) { out(i) = w.toByte; w >>>= 8; k += 1; i += 1 }
    }
    java.nio.ByteBuffer.wrap(out).putLong(0, seq)
    out
  }

  def seqOf(value: Array[Byte]): Long = java.nio.ByteBuffer.wrap(value).getLong(0)

  /** catchup batch sizes, uniform over 1–[[MaxCatchupBatch]] records,
    * adding up to [[CatchupRecords]]; offset `o` of that log holds
    * `payload(seed, o)`.
    */
  def catchupBatches(seed: Long): Array[Int] = {
    val r = rng(seed, BatchStream)
    val out = ArrayBuffer.empty[Int]
    var left = CatchupRecords
    while (left > 0) {
      val n = math.min(left, 1L + r.nextInt(MaxCatchupBatch)).toInt
      out += n
      left -= n
    }
    out.toArray
  }

  private def uniform(seed: Long, stream: Long, bound: Long): Iterator[Long] = {
    val r = rng(seed, ReaderStream + stream)
    Iterator.continually(r.nextLong(bound))
  }

  /** Offsets unary reader `reader` consumes, uniform over the catchup log. */
  def readOffsets(seed: Long, reader: Int): Iterator[Long] =
    uniform(seed, reader, CatchupRecords)

  /** Start offsets of the gRPC ConsumeStream windows. */
  def grpcWindowStarts(seed: Long): Iterator[Long] =
    uniform(seed, UnaryReaders, CatchupRecords - GrpcWindow + 1)

  /** Start offsets of the HTTP /tail windows. */
  def httpWindowStarts(seed: Long): Iterator[Long] =
    uniform(seed, UnaryReaders + 1, CatchupRecords - HttpWindow + 1)

  /** Arrival times (ns after the start) of one pubsub producer: a Poisson
    * process at aggregate `rate` over `seconds` conditioned on its expected
    * count, i.e. that many uniform times in order, so every seed offers the
    * same load.
    */
  def schedule(seed: Long, producer: Int, seconds: Int, rate: Double = PubsubRate): Array[Long] = {
    val r = rng(seed, ScheduleStream + producer)
    val n = math.round(rate / PubsubProducers * seconds).toInt
    Array.fill(n)(r.nextLong(seconds * 1000000000L)).sorted
  }

  /** Prints a digest of every seeded input: `Plan <seed> <seconds>`. */
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val seconds = args(1).toInt
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def line(name: String, bytes: Iterator[Array[Byte]]): Unit = {
      md.reset()
      bytes.foreach(b => md.update(b))
      println(s"$name ${md.digest().map(b => f"${b & 0xff}%02x").mkString}")
    }
    def longs(xs: Iterator[Long]): Iterator[Array[Byte]] =
      xs.map(x => java.nio.ByteBuffer.allocate(8).putLong(x).array())
    line("payloads", (0L until 2000L).iterator.map(s => payload(seed, s)) ++
      (0 until UnaryProducers).iterator.map(p => payload(seed, p * SeqBase)))
    line("batches", longs(catchupBatches(seed).iterator.map(_.toLong)))
    line("offsets", longs((0 until UnaryReaders).iterator.flatMap(r => readOffsets(seed, r).take(500))))
    line("windows", longs(grpcWindowStarts(seed).take(200) ++ httpWindowStarts(seed).take(200)))
    line("schedule", longs((0 until PubsubProducers).iterator.flatMap(p => schedule(seed, p, seconds).iterator)))
  }
}
