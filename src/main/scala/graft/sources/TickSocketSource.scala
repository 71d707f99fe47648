package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** LIVE socket-fed tick source (SURVEY §2.1 R1 live mode — the reference's
  * WebSocket consumer, `main.py:30-35`, without egress): a DataSource V2
  * MicroBatchStream whose driver connects to a TCP endpoint serving
  * line-framed TSV ticks and tracks offsets as SEQUENCE NUMBERS.
  *
  * Recovery contract — the part Spark's builtin socket source (which this
  * mirrors structurally: driver-side buffer, partitions carry row slices)
  * deliberately lacks: on (re)connect the client sends `RESUME <seq>\n` and
  * the server replays from that sequence number. Exchange feeds offer
  * exactly this via trade ids (the reference's `res['t']`); with it, a
  * restarted query resumes from the checkpointed offset with NO duplicates
  * and NO loss (TickSocketSpec kills a query mid-stream and proves the
  * reassembled sink is gap-free). Without a resume-capable upstream this
  * source degrades to the builtin socket source's semantics.
  *
  * Scale/robustness notes:
  *  - the driver buffer holds only UNCOMMITTED rows: `commit(end)` trims
  *    everything below the committed sequence, so steady-state memory is
  *    one trigger's worth of ticks, independent of stream lifetime;
  *  - `maxPerTrigger` caps each micro-batch so a fast upstream cannot grow
  *    a single batch unboundedly after a stall;
  *  - rows ship to executors inside the InputPartition (same as the
  *    builtin socket source) — correct for a feed whose natural ingest
  *    point is one driver connection;
  *  - a trigger's slice count follows its BYTES, by the rule Spark's file
  *    scan applies to splits (see `TickSocketStream.sliceCount`):
  *    `numPartitions` is the parallelism TARGET a large backlog fans out
  *    to, not a fixed count, and a trigger under
  *    `spark.sql.files.openCostInBytes` (4 MB by default) is ONE slice.
  *    Each slice is one task downstream — in a landing sink one parquet
  *    write task, whose fixed cost (Spark ships the whole Hadoop
  *    Configuration inside every file-write task) is far larger than the
  *    parse and transform of a live trigger's 10-150 KB.
  */
class TickSocketProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.streaming.Ingest.tickSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TickSocketTable(new CaseInsensitiveStringMap(properties))
}

private[sources] class TickSocketTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  private val host = options.getOrDefault("host", "127.0.0.1")
  private val port = options.getInt("port", 0)
  private val maxPerTrigger = options.getLong("maxPerTrigger", 10000L)
  private val slices = options.getInt("numPartitions", 4)
  private val maxBuffered = options.getInt("maxBuffered", 200000)
  // transport=ws upgrades the connection to RFC-6455 WebSocket framing
  // (the reference feed's actual edge, main.py:30-35): HTTP handshake,
  // masked client frames, one tick per text message. transport=wss is the
  // same framing over TLS (the reference URL scheme) — trust anchors come
  // from `trustStore`/`trustStorePassword` or the JVM defaults; hostname
  // verification is always on (see Tls). Default stays raw line-framed TCP.
  private val transport = options.getOrDefault("transport", "tcp").toLowerCase
  private val trustStore = Option(options.get("trustStore"))
  private val trustStorePassword = options.getOrDefault("trustStorePassword", "changeit")
  require(port > 0, "TickSocketProvider requires a `port` option")
  require(slices > 0, s"numPartitions must be positive, got $slices")
  require(Set("tcp", "ws", "wss")(transport),
    s"transport must be tcp, ws or wss, got '$transport'")

  override def name(): String = s"ticksocket($host:$port)"
  override def schema(): StructType = graft.streaming.Ingest.tickSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema()
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TickSocketStream(host, port, maxPerTrigger, slices, maxBuffered,
            ws = transport != "tcp", tls = transport == "wss",
            trustStore = trustStore, trustStorePassword = trustStorePassword)
      }
    }
}

/** One partition's worth of already-received TSV lines. */
private[sources] case class TickLineSlice(lines: Array[String]) extends InputPartition

private[sources] class TickSocketStream(
    host: String, port: Int, maxPerTrigger: Long, slices: Int, maxBuffered: Int,
    ws: Boolean = false, tls: Boolean = false,
    trustStore: Option[String] = None, trustStorePassword: String = "changeit")
    extends MicroBatchStream with SupportsAdmissionControl {

  // All mutable state guarded by `this`. `base` is the sequence number of
  // buffer(0); the buffer holds sequences [base, base + buffer.size).
  private val buffer = new ArrayBuffer[String]()
  // flow-control cap must exceed a full trigger's range or the reader
  // would pause before planInputPartitions' requested range arrives
  private val bufCap = math.max(maxBuffered.toLong, 4L * maxPerTrigger).toInt
  private var base = 0L
  private var lastEnd = 0L          // last offset handed to the engine
  private var resumeFrom = -1L      // min offset seen via deserializeOffset
  private var epoch = 0             // bumped per (re)connect; fences stale readers
  private var socket: java.net.Socket = _
  @volatile private var readerError: Throwable = _
  @volatile private var stopped = false

  /** (Re)connect requesting replay from sequence `from`. The upstream is
    * sequence-addressed (RESUME protocol), so ANY still-needed range can be
    * re-fetched — reconnection is the recovery primitive, not a failure.
    * Caller must hold the monitor.
    */
  private def connect(from: Long): Unit = {
    if (socket != null) socket.close()
    epoch += 1
    val myEpoch = epoch
    // `from == base + buffer.size` is an APPEND continuation (reader
    // auto-reconnect after upstream loss): already-buffered rows stay
    // valid. Any other resume point restarts the window.
    if (from != base + buffer.size) {
      buffer.clear()
      base = from
    }
    lastEnd = math.max(lastEnd, from)
    // `wss`: the TLS handshake (chain validation + hostname check) completes
    // inside clientSocket BEFORE the WS upgrade bytes move — recovery
    // reconnects re-verify every time.
    socket =
      if (tls) Tls.clientSocket(host, port, trustStore, trustStorePassword)
      else new java.net.Socket(host, port)
    // transport seam: `ws` upgrades to RFC-6455 framing (handshake, masked
    // RESUME text message, one tick per server text frame, transparent
    // ping→pong); plain mode keeps newline framing. Everything above this
    // seam — RESUME recovery, admission control, flow control — is
    // transport-agnostic.
    val readLine: () => String =
      if (ws) {
        val rawIn = socket.getInputStream
        val rawOut = socket.getOutputStream
        WebSocketIO.clientHandshake(rawIn, rawOut, s"$host:$port")
        WebSocketIO.writeMaskedText(rawOut, s"RESUME $from")
        () => WebSocketIO.readText(rawIn, rawOut, maskReplies = true).orNull
      } else {
        val out = new java.io.PrintWriter(socket.getOutputStream, true)
        out.println(s"RESUME $from")
        val in = new java.io.BufferedReader(
          new java.io.InputStreamReader(socket.getInputStream,
            java.nio.charset.StandardCharsets.UTF_8))
        () => in.readLine()
      }
    val readerThread = new Thread(() => {
      var failure: Throwable = null
      try {
        var line = readLine()
        var live = line != null
        while (live) {
          TickSocketStream.this.synchronized {
            // flow control: pause the read loop (TCP backpressure reaches
            // the server) while a full buffer of uncommitted rows waits
            while (epoch == myEpoch && !stopped && buffer.size >= bufCap) {
              TickSocketStream.this.wait(100)
            }
            if (epoch == myEpoch && !stopped) buffer += line else live = false
          }
          if (live) { line = readLine(); live = line != null }
        }
      } catch {
        case _: InterruptedException =>
        case t: Throwable => failure = t // includes SocketException: sort out below
      }
      // Upstream died (EOF or IO error) while we are still the live reader:
      // the feed is sequence-addressed, so this is RECOVERABLE — reconnect
      // and RESUME at the first sequence we don't have. Bounded retries with
      // backoff; only a final failure surfaces to the engine. A stop() or a
      // newer epoch means the exit was intentional — do nothing.
      var attempt = 0
      var done = false
      while (!done) {
        val shouldReconnect = TickSocketStream.this.synchronized {
          !stopped && epoch == myEpoch
        }
        if (!shouldReconnect) done = true
        else {
          try {
            Thread.sleep(math.min(5000L, 200L << attempt))
            TickSocketStream.this.synchronized {
              if (!stopped && epoch == myEpoch) connect(base + buffer.size)
            }
            done = true
          } catch {
            case _: InterruptedException => done = true
            case t: Throwable =>
              attempt += 1
              if (attempt >= 8) { readerError = if (failure != null) failure else t; done = true }
          }
        }
      }
    }, s"ticksocket-reader-$host:$port-e$myEpoch")
    readerThread.setDaemon(true)
    readerThread.start()
  }

  /** Connect lazily, AFTER checkpoint recovery has told us (via
    * deserializeOffset) the earliest sequence the engine can still ask for
    * — that is the RESUME point. Fresh queries resume from 0.
    */
  private def ensureConnected(): Unit =
    if (socket == null) connect(math.max(0L, resumeFrom))

  private def dbg(m: String): Unit =
    if (sys.env.contains("TICKSOCK_DEBUG")) System.err.println(s"[sock] $m")

  override def initialOffset(): Offset = { dbg("initialOffset"); TickOffset(0L) }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxPerTrigger)

  /** Admission-control form — the engine passes the RESTORED start offset
    * here on the first post-recovery trigger, which is exactly the RESUME
    * point for the upstream connection (the no-arg latestOffset would have
    * to guess; the engine prefers this one when implemented).
    */
  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = synchronized {
    if (readerError != null) throw readerError
    val start = startOffset.asInstanceOf[TickOffset].index
    resumeFrom = if (resumeFrom < 0) start else math.min(resumeFrom, start)
    lastEnd = math.max(lastEnd, start)
    ensureConnected()
    val available = base + buffer.size
    val cap = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _: org.apache.spark.sql.connector.read.streaming.ReadAllAvailable => Long.MaxValue
      case _ => maxPerTrigger
    }
    lastEnd = math.max(lastEnd, math.min(available, lastEnd + cap))
    dbg(s"latestOffset($start, $cap) -> $lastEnd (available=$available base=$base)")
    TickOffset(lastEnd)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is the admission-control entry point")

  override def deserializeOffset(json: String): Offset = synchronized {
    dbg(s"deserializeOffset($json)")
    val o = TickOffset(json.toLong)
    // recovery: the SMALLEST deserialized offset is the start of the
    // earliest batch the engine may re-run — resume the feed from there
    resumeFrom = if (resumeFrom < 0) o.index else math.min(resumeFrom, o.index)
    lastEnd = math.max(lastEnd, o.index)
    o
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    ensureConnected()
    val s = start.asInstanceOf[TickOffset].index
    val e = end.asInstanceOf[TickOffset].index
    dbg(s"planInputPartitions($s, $e) base=$base have=${base + buffer.size}")
    // a range below the trim point (possible after a torn restart where
    // the engine re-runs from an older committed offset) is re-fetched
    // from the sequence-addressed upstream rather than failed
    if (s < base) connect(s)
    // a re-run batch's range refills after the reconnect above; a live
    // batch's range was buffered before latestOffset returned it. Block
    // only for the refill / startup race.
    var waited = 0
    while (base + buffer.size < e && readerError == null && waited < 600) {
      this.wait(100) // releases the monitor so the reader thread can append
      waited += 1
    }
    if (readerError != null) throw readerError
    require(base + buffer.size >= e,
      s"feed did not deliver range [$s,$e) within 60s (have ${base + buffer.size})")
    val rows = buffer.slice((s - base).toInt, (e - base).toInt).toArray
    // a non-empty trigger is at least one slice, even of blank lines: its
    // rows must reach the parser (and fail the batch), never be committed
    // unread
    val n = if (rows.isEmpty) 0 else TickSocketStream.sliceCount(
      rows.iterator.map(_.length.toLong).sum, slices, SQLConf.get).toInt min rows.length
    def cut(i: Int) = (i.toLong * rows.length / n).toInt
    Array.tabulate[InputPartition](n)(i => TickLineSlice(rows.slice(cut(i), cut(i + 1))))
  }

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[TickOffset].index
    dbg(s"commit($e) base=$base")
    if (e > base) {
      buffer.remove(0, (e - base).toInt min buffer.size)
      base = e
    }
    notifyAll() // wake a flow-controlled reader: space freed
  }

  override def stop(): Unit = synchronized {
    stopped = true
    if (socket != null) socket.close()
    notifyAll()
  }

  override def createReaderFactory(): PartitionReaderFactory = new TickLineReaderFactory
}

private[sources] object TickSocketStream {

  /** Slices for a non-empty trigger of `bytes` buffered line bytes, by the
    * split rule Spark's file scan applies (`FilePartition.maxSplitBytes`)
    * with `target` (`numPartitions`) as the parallelism target:
    * split = min(maxPartitionBytes, max(openCostInBytes, ⌈bytes / target⌉)),
    * slices = max(1, ⌈bytes / split⌉). A trigger under the open cost is one
    * slice, a larger one at most `target` slices until each would pass
    * maxPartitionBytes. DEPLOY.md's "Live socket source" bullet has the
    * measurements behind it.
    */
  def sliceCount(bytes: Long, target: Int, conf: SQLConf): Long = {
    val split = math.min(conf.filesMaxPartitionBytes,
      math.max(math.max(conf.filesOpenCostInBytes, 1L), (bytes + target - 1) / target))
    math.max(1L, (bytes + split - 1) / split)
  }
}

/** Parses the reference's 6-field TSV framing (`main.py:61-67`):
  * bid \t symbol \t price \t qty \t timeMs \t maker(0/1|true/false).
  */
private[sources] class TickLineReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val lines = partition.asInstanceOf[TickLineSlice].lines
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < lines.length }
      override def get(): InternalRow = {
        val f = lines(i).split('\t')
        InternalRow(f(0).toLong, UTF8String.fromString(f(1)),
          UTF8String.fromString(f(2)), UTF8String.fromString(f(3)),
          f(4).toLong, f(5) == "1" || f(5) == "true")
      }
      override def close(): Unit = ()
    }
  }
}
