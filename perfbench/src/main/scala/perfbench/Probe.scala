package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.embed.Embedder

/** Benchmark-side probes: JVM-wide counters (local mode runs every task in
  * the driver JVM), the counting embedder and the hashing sink.
  */
object Probe {
  @volatile var tracer: Tracer = _

  val embedCalls = new AtomicLong
  val embedTexts = new AtomicLong
  val embedBlank = new AtomicLong
  /** Wall time of each embed call made on the driver thread (questions). */
  val driverEmbedNanos = new ConcurrentLinkedQueue[java.lang.Long]

  /** Largest heap in use right after any GC of the run, from the JVM's GC
    * notifications: the peak of data that survived a collection. Raw pool
    * peaks mostly measure how full eden was when a collection ran.
    */
  @volatile private var peakLive = 0L
  def watchHeap(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
            synchronized { peakLive = math.max(peakLive, used) }
          }, null, null)
      case _ =>
    }
  def peakLiveHeapMb(): Double = peakLive / 1048576.0

  def embedSnapshot(): (Long, Long, Long) = (embedCalls.get, embedTexts.get, embedBlank.get)
  def driverEmbedMs(): Seq[Double] = driverEmbedNanos.asScala.toSeq.map(_ / 1e6)
}

/** Decorator around the public [[Embedder]] trait: counts calls, texts and
  * blank (empty) vectors; a call on the driver thread is a question
  * embedding and, traced, gets its own `embed.question` span.
  */
final class CountingEmbedder(underlying: Embedder) extends Embedder {
  def dim: Int = underlying.dim
  override def embed(texts: Seq[String]): Seq[Array[Float]] = {
    val t = Probe.tracer
    val onDriver = t != null && (Thread.currentThread() eq t.thread)
    val t0 = System.nanoTime()
    val out =
      if (onDriver) t("embed.question")(underlying.embed(texts)) else underlying.embed(texts)
    if (onDriver) Probe.driverEmbedNanos.add(System.nanoTime() - t0)
    Probe.embedCalls.incrementAndGet()
    Probe.embedTexts.addAndGet(texts.size.toLong)
    Probe.embedBlank.addAndGet(out.count(_.isEmpty).toLong)
    out
  }
}

/** A write target that discards rows like Spark's `noop` sink but folds
  * each row into an order-insensitive hash: the row count plus the
  * wrapping sums of two XXH64 hashes of the row's UnsafeRow bytes. Usage:
  * `df.write.format(classOf[HashSink].getName).mode("append").save()`,
  * then [[HashSink.last]].
  */
final class HashSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = new HashSink.Sink(schema)
}

object HashSink {
  final case class Digest(rows: Long, h1: Long, h2: Long) {
    def +(o: Digest): Digest = Digest(rows + o.rows, h1 + o.h1, h2 + o.h2)
    def hex: String = f"$rows%d:$h1%016x$h2%016x"
  }

  @volatile var last: Digest = Digest(0, 0, 0)

  private final class Sink(schema: StructType) extends Table with SupportsWrite {
    override def name(): String = "perfbench_hash"
    override def schema(): StructType = schema
    override def capabilities(): java.util.Set[TableCapability] =
      Set(TableCapability.BATCH_WRITE, TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new Batch(info.schema())
      }
    }
  }

  private final class Batch(schema: StructType) extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new Factory(schema)
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      last = messages.collect { case d: Part => d.digest }.foldLeft(Digest(0, 0, 0))(_ + _)
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private final case class Part(digest: Digest) extends WriterCommitMessage

  private final class Factory(schema: StructType) extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val proj = UnsafeProjection.create(schema)
        private var rows, h1, h2 = 0L
        override def write(row: InternalRow): Unit = {
          val u = proj(row)
          rows += 1
          h1 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          h2 += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 7L)
        }
        override def commit(): WriterCommitMessage = Part(Digest(rows, h1, h2))
        override def abort(): Unit = ()
        override def close(): Unit = ()
      }
  }
}
