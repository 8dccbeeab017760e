package logbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

import graft.log.{LogConfig, LogRecord, SparkLog}
import graft.server.{ConsumeRequest, ConsumeResponse, LogService, ProduceRequest, ProduceResponse}

/** One timed call at a layer boundary. `reqId` is the produce payload's
  * sequence number or the consumed offset; children inherit their parent's.
  */
final class Span(
    val id: Long,
    val parent: Long,
    val name: String,
    val reqId: Long,
    val thread: String,
    val start: Long
) {
  @volatile var end: Long = 0L
  /** Records the call carried (append) or handed out (consumeStream). */
  @volatile var records: Long = 0L
  /** consumeStream only: when its iterator produced the first record. */
  @volatile var firstRecord: Long = 0L
}

/** In-memory span store; each thread keeps a stack of open spans so a
  * nested call names its parent.
  */
final class Tracer {
  private val ids = new AtomicLong()
  private val done = new ConcurrentLinkedQueue[Span]()
  private val open = ThreadLocal.withInitial(() => new java.util.ArrayDeque[Span]())

  def begin(name: String, reqId: Long = -1L, records: Long = 0L): Span = {
    val stack = open.get()
    val parent = stack.peek()
    val s = new Span(
      ids.incrementAndGet(),
      if (parent == null) 0L else parent.id,
      name,
      if (reqId >= 0 || parent == null) reqId else parent.reqId,
      Thread.currentThread().getName,
      System.nanoTime()
    )
    s.records = records
    stack.push(s)
    s
  }

  def end(s: Span): Unit = {
    s.end = System.nanoTime()
    open.get().pop()
    done.add(s)
  }

  def span[T](name: String, reqId: Long = -1L, records: Long = 0L)(body: => T): T = {
    val s = begin(name, reqId, records)
    try body
    finally end(s)
  }

  def clear(): Unit = done.clear()

  def snapshot(): Vector[Span] = {
    import scala.jdk.CollectionConverters._
    done.iterator().asScala.toVector
  }
}

/** SparkLog with a span around every append and point read. */
class TracedSparkLog(spark: SparkSession, dir: String, config: LogConfig, tracer: Tracer)
    extends SparkLog(spark, dir, config) {

  override def append(values: Seq[Array[Byte]]): Long =
    tracer.span("log.append", records = values.size.toLong)(super.append(values))

  override def read(offset: Long): LogRecord =
    tracer.span("log.read")(super.read(offset))
}

/** LogService with a span around produce, consume and consumeStream. */
class TracedLogService(sparkLog: SparkLog, tracer: Tracer) extends LogService(sparkLog) {

  override def produce(subject: String, req: ProduceRequest): ProduceResponse =
    tracer.span("service.produce", Plan.seqOf(req.value), 1L)(super.produce(subject, req))

  override def consume(subject: String, req: ConsumeRequest): ConsumeResponse =
    tracer.span("service.consume", req.offset)(super.consume(subject, req))

  /** The span covers the call; the returned iterator stamps the first record
    * and counts the records it hands out.
    */
  override def consumeStream(subject: String, offset: Long): Iterator[LogRecord] = {
    val s = tracer.begin("service.consumeStream", offset)
    val it =
      try super.consumeStream(subject, offset)
      finally tracer.end(s)
    new Iterator[LogRecord] {
      def hasNext: Boolean = it.hasNext
      def next(): LogRecord = {
        val r = it.next()
        if (s.records == 0L) s.firstRecord = System.nanoTime()
        s.records += 1
        r
      }
    }
  }
}
