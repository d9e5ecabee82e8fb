package graft.streaming

import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.model.MetricMetadata

/** The carbon plaintext daemon's listening half — the reference's
  * `plugins/carbon.py` receives `metric value timestamp\n` lines on
  * :2003 inside carbon's twisted loop; here a plain accept loop spools
  * complete line batches into files that Spark's text streaming source
  * tails, so the INGEST itself stays a Structured Streaming job with
  * checkpointed, replay-idempotent state (StreamingIngest).
  *
  * Spool contract: each connection's lines are buffered and written as
  * `.batch-*.tmp`, then ATOMICALLY renamed to `batch-*.txt` (on
  * `rollLines` or disconnect) — the file source never observes a
  * partial file, and hidden dot-files are ignored while being written.
  * At cluster scale the same contract holds with any shared filesystem
  * the executors can read; one listener per carbon endpoint, N
  * listeners feeding one spool for horizontal fan-in. */
object CarbonListener {

  final class Listener(port: Int, spoolDir: String, rollLines: Int = 10000) {
    Files.createDirectories(Paths.get(spoolDir))
    private val server = new ServerSocket(port)
    @volatile private var running = true

    def localPort: Int = server.getLocalPort

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          val t = new Thread(() => handle(sock))
          t.setDaemon(true)
          t.start()
        } catch {
          case _: SocketException => // server closed — exit loop
        }
      }
    }, s"carbon-acceptor-$port")
    acceptor.setDaemon(true)

    def start(): Listener = { acceptor.start(); this }
    def stop(): Unit = { running = false; server.close() }

    private def handle(sock: Socket): Unit = {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8))
      val buf = new scala.collection.mutable.ArrayBuffer[String]
      try {
        var line = reader.readLine()
        while (line != null) {
          buf += line
          if (buf.size >= rollLines) { flush(buf.toSeq); buf.clear() }
          line = reader.readLine()
        }
      } finally {
        if (buf.nonEmpty) flush(buf.toSeq)
        sock.close()
      }
    }

    private def flush(lines: Seq[String]): Unit = {
      val name = s"batch-${System.nanoTime()}-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}.txt"
      val tmp = Paths.get(spoolDir, s".$name.tmp")
      Files.write(tmp, String.join("\n", lines: _*).getBytes(UTF_8))
      Files.move(tmp, Paths.get(spoolDir, name),
        StandardCopyOption.ATOMIC_MOVE)
    }
  }

  /** The ingest half: tail the spool as a text stream, parse carbon
    * lines, run the checkpointed downsample/auto-create job. Returns
    * the un-started writer so callers pick the trigger (AvailableNow
    * in tests, continuous micro-batches in the daemon). */
  def ingestFromSpool(spark: SparkSession, spoolDir: String,
      storeDir: String, checkpointDir: String,
      metadataFor: String => MetricMetadata,
      autoCreate: Option[graft.sources.MetricCatalog.CatalogStore] = None)
      : DataStreamWriter[_] = {
    // consumed spool files are deleted by the file source's cleanSource,
    // which lags the batch commit: drained files linger in the spool
    // beside the un-ingested backlog. The read face's carbonlink overlay
    // (Bgutil.spoolBacklog) therefore only fills slots the durable store
    // leaves empty — durable values win
    val lines = spark.readStream.format("text")
      .option("cleanSource", "delete")
      .load(spoolDir)
    val points = StreamingIngest.parseCarbonLines(lines)
    StreamingIngest.startIngestJob(points, metadataFor, storeDir,
      checkpointDir, autoCreate = autoCreate)
  }
}
