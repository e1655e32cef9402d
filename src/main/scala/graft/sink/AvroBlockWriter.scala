package graft.sink

import java.io.{ByteArrayOutputStream, OutputStream}
import java.nio.ByteBuffer
import java.util.concurrent.{CountDownLatch, LinkedBlockingQueue, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.avro.Schema
import org.apache.avro.file.{Codec, CodecBridge, DataFileWriter}
import org.apache.avro.generic.GenericDatumWriter
import org.apache.avro.io.{BinaryData, BinaryEncoder}
import org.apache.spark.sql.catalyst.InternalRow

/** Avro object-container writer whose blocks compress off the calling
  * thread. For the same rows, codec and sync marker it writes the same
  * bytes as `DataFileWriter` with a 1 MiB sync interval and the sink's
  * `created_by` metadata:
  *
  *   - the header is `DataFileWriter.create`'s own output, so it is
  *     identical by construction; without an explicit `sync` the marker is
  *     the one `create` generated, read back from the header's tail;
  *   - rows encode straight into the current block's byte array;
  *   - a block closes right after the row that takes it to >= 1 MiB,
  *     `DataFileWriter`'s rule;
  *   - each closed block is compressed on a JVM-wide daemon pool, at most
  *     four per writer at a time, and the calling thread writes finished
  *     blocks in order: count, size, bytes, sync; block arrays are reused.
  *
  * One writer belongs to one thread. Either [[close]] or [[abort]] it;
  * both close `out`.
  */
final class AvroBlockWriter(
    out: OutputStream,
    schema: Schema,
    codec: String,
    sync: Array[Byte] = null) {
  import AvroBlockWriter._

  private val syncMarker: Array[Byte] =
    try {
      val header = headerBytes()
      out.write(header)
      header.takeRight(SyncSize)
    } catch {
      case e: Throwable =>
        closeQuietly()
        throw e
    }
  private val encoder = new BlockEncoder(FirstBlockBytes)
  private var blockRows = 0L
  private val pending = new java.util.ArrayDeque[Block](MaxInFlight)
  private val spare = new java.util.ArrayDeque[Array[Byte]](MaxInFlight)
  private val varint = new Array[Byte](10)

  def append(row: InternalRow, fns: Array[RowBinaryEncoder.FieldEncoder]): Unit = {
    RowBinaryEncoder.encodeRow(row, fns, encoder)
    blockRows += 1
    if (encoder.size >= SyncInterval) closeBlock()
  }

  /** Compresses and writes the rows still buffered, then closes `out`. */
  def close(): Unit = {
    if (blockRows > 0) closeBlock()
    while (!pending.isEmpty) writeHead()
    out.close()
  }

  /** Failure path; never throws. Waits out the blocks in flight, so no
    * pool thread touches this writer afterwards, then closes `out`. An
    * interrupt that arrives meanwhile is kept.
    */
  def abort(): Unit = {
    var interrupted = false
    while (!pending.isEmpty) interrupted |= pending.pollFirst().awaitQuietly()
    closeQuietly()
    if (interrupted) Thread.currentThread().interrupt()
  }

  private def headerBytes(): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val w = new DataFileWriter[AnyRef](new GenericDatumWriter[AnyRef](schema))
    w.setCodec(AvroSink.codecFactory(codec))
    w.setMeta("created_by", "dbeamspark")
    if (sync == null) w.create(schema, bytes) else w.create(schema, bytes, sync)
    w.close()
    bytes.toByteArray
  }

  private def closeBlock(): Unit = {
    val block = new Block(encoder.buf, encoder.size, blockRows, codec)
    encoder.reset(if (spare.isEmpty) new Array[Byte](BlockBytes) else spare.pop())
    blockRows = 0
    inFlight.incrementAndGet()
    pool.execute(block)
    pending.addLast(block)
    while (!pending.isEmpty && (pending.size >= MaxInFlight || pending.peekFirst().isDone))
      writeHead()
  }

  private def writeHead(): Unit = {
    val block = pending.peekFirst()
    val data = block.await()
    writeVarLong(block.rows)
    writeVarLong(data.remaining)
    out.write(data.array, data.arrayOffset + data.position, data.remaining)
    out.write(syncMarker)
    pending.pollFirst()
    if (spare.size < MaxInFlight) spare.push(block.raw)
  }

  private def writeVarLong(n: Long): Unit =
    out.write(varint, 0, BinaryData.encodeLong(n, varint, 0))

  private def closeQuietly(): Unit =
    try out.close() catch { case _: Throwable => () }
}

object AvroBlockWriter {

  /** Uncompressed bytes per block (`JdbcAvroIO.java:135`). */
  val SyncInterval: Int = 1 << 20

  /** Blocks one writer may have handed to the pool and not yet written. */
  private val MaxInFlight = 4

  private val SyncSize = 16
  private val FirstBlockBytes = 64 * 1024
  // a full block plus its last row, as DataFileWriter sizes its buffer
  private val BlockBytes = SyncInterval + SyncInterval / 4

  private val inFlight = new AtomicInteger

  /** Blocks handed to the pool and not yet finished, over all writers. */
  private[graft] def blocksInFlight: Int = inFlight.get

  private lazy val pool: ThreadPoolExecutor = {
    val n = Runtime.getRuntime.availableProcessors
    val ids = new AtomicInteger
    // no inherited thread locals: the pool outlives whichever task made it
    val threads: ThreadFactory = r => {
      val t = new Thread(null, r, s"avro-block-codec-${ids.incrementAndGet()}", 0L, false)
      t.setDaemon(true)
      t
    }
    new ThreadPoolExecutor(n, n, 0L, TimeUnit.MILLISECONDS, new LinkedBlockingQueue[Runnable](), threads)
  }

  /** The calling pool thread's codec instances by sink codec name: Avro
    * codecs are not thread-safe, and `DeflateCodec` keeps one native
    * `Deflater` for all its blocks.
    */
  private val codecs = ThreadLocal.withInitial[java.util.HashMap[String, Codec]](() => new java.util.HashMap)

  private final class Block(val raw: Array[Byte], len: Int, val rows: Long, codec: String)
      extends Runnable {
    private val done = new CountDownLatch(1)
    private var result: ByteBuffer = _
    private var error: Throwable = _

    def run(): Unit =
      try {
        val c = codecs.get.computeIfAbsent(codec, n => CodecBridge.create(AvroSink.codecFactory(n)))
        result = c.compress(ByteBuffer.wrap(raw, 0, len))
      } catch { case e: Throwable => error = e }
      finally {
        inFlight.decrementAndGet()
        done.countDown()
      }

    def isDone: Boolean = done.getCount == 0

    /** The compressed block; rethrows the codec's own failure. */
    def await(): ByteBuffer = {
      done.await()
      if (error != null) throw error
      result
    }

    /** Waits for the block whatever interrupts arrive; true if one did. */
    def awaitQuietly(): Boolean = {
      var interrupted = false
      while (!isDone)
        try done.await()
        catch { case _: InterruptedException => interrupted = true }
      interrupted
    }
  }
}

/** `BinaryEncoder` over a plain growable byte array: no stream, no lock,
  * no flush. Writes the same wire bytes as Avro's own binary encoders.
  */
private[sink] final class BlockEncoder(firstBytes: Int) extends BinaryEncoder {
  private[sink] var buf = new Array[Byte](firstBytes)
  private[sink] var size = 0

  private[sink] def reset(next: Array[Byte]): Unit = {
    buf = next
    size = 0
  }

  private def ensure(n: Int): Unit = if (buf.length - size < n) grow(n)

  private def grow(n: Int): Unit = {
    val cap = math.min(math.max(size.toLong + n, buf.length * 2L), Int.MaxValue - 8L)
    buf = java.util.Arrays.copyOf(buf, cap.toInt)
  }

  override def writeBoolean(b: Boolean): Unit = { ensure(1); size += BinaryData.encodeBoolean(b, buf, size) }
  override def writeInt(n: Int): Unit = { ensure(5); size += BinaryData.encodeInt(n, buf, size) }
  override def writeLong(n: Long): Unit = { ensure(10); size += BinaryData.encodeLong(n, buf, size) }
  override def writeFloat(f: Float): Unit = { ensure(4); size += BinaryData.encodeFloat(f, buf, size) }
  override def writeDouble(d: Double): Unit = { ensure(8); size += BinaryData.encodeDouble(d, buf, size) }

  override def writeFixed(bytes: Array[Byte], start: Int, len: Int): Unit = {
    ensure(len)
    System.arraycopy(bytes, start, buf, size, len)
    size += len
  }

  override protected def writeZero(): Unit = { ensure(1); buf(size) = 0; size += 1 }

  // BinaryEncoder's own versions of these are shared by every Avro encoder
  // in the JVM, so the JIT sees many receivers at their inner calls; these
  // copies see only this class.
  override def writeIndex(unionIndex: Int): Unit = writeInt(unionIndex)
  override def writeBytes(bytes: Array[Byte], start: Int, len: Int): Unit = {
    writeInt(len)
    writeFixed(bytes, start, len)
  }
  override def setItemCount(itemCount: Long): Unit = if (itemCount > 0) writeLong(itemCount)
  override def writeArrayEnd(): Unit = writeZero()
  override def bytesBuffered(): Int = size
  override def flush(): Unit = ()
}
