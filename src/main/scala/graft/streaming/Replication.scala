package graft.streaming

import java.io.{ByteArrayInputStream, InputStream}
import java.time.{Duration, Instant}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.mapping.CompiledMapping

/** Replication sequencing + the assembled poll→download→apply→advance loop
  * (SURVEY.md §2 S3/ST4; reference import_/state.go, update/cmd.go:231-257,
  * 386-411). The fetch is pluggable: the default copies through the Hadoop
  * filesystem layer, so a `file://` endpoint (tests, mirrored dumps) and any
  * mounted store work as-is; a real deployment passes an HTTP getter.
  */
object Replication {

  /** One replication state (the reference's last.state.txt / DiffState). */
  final case class State(sequence: Long, timestamp: Instant, url: String = "")

  /** Parse OSM state.txt: `sequenceNumber=NNN`, `timestamp=...Z` with
    * escaped colons (`\:`). */
  def parseState(in: InputStream): State = {
    val lines = scala.io.Source.fromInputStream(in).getLines().toSeq
    val kv = lines.filterNot(l => l.startsWith("#") || l.isEmpty)
      .flatMap { l =>
        l.split("=", 2) match {
          case Array(k, v) => Some(k.trim -> v.trim.replace("\\:", ":"))
          case _ => None
        }
      }.toMap
    State(
      sequence = kv.getOrElse("sequenceNumber",
        throw new IllegalArgumentException("missing sequenceNumber")).toLong,
      timestamp = kv.get("timestamp").map(Instant.parse).getOrElse(Instant.EPOCH))
  }

  /** The sequence line comes last, so a write cut short after any earlier
    * line fails to parse and a [[Pointer]] tmp that parses is complete. */
  private[graft] def stateText(s: State): String = {
    val ts = DateTimeFormatter.ISO_INSTANT.format(s.timestamp).replace(":", "\\:")
    s"#${Instant.now()}\ntimestamp=$ts\nsequenceNumber=${s.sequence}\n"
  }

  /** Sequence -> path within a replication endpoint: 9 digits split 3/3/3
    * (e.g. 4127372 -> 004/127/372). */
  def sequencePath(seq: Long): String = {
    val s = f"$seq%09d"
    s"${s.substring(0, 3)}/${s.substring(3, 6)}/${s.substring(6, 9)}"
  }

  def diffUrl(base: String, seq: Long): String =
    s"${base.stripSuffix("/")}/${sequencePath(seq)}.osc.gz"

  def stateUrl(base: String, seq: Long): String =
    s"${base.stripSuffix("/")}/${sequencePath(seq)}.state.txt"

  /** Estimate the import start sequence from a PBF timestamp
    * (import_/state.go:39-57, 76-95): current server sequence minus the
    * elapsed intervals since the timestamp, minus a safety `before`. */
  def estimateSequence(current: State, interval: Duration, timestamp: Instant,
      before: Duration = Duration.ZERO): Long = {
    val behind = Duration.between(timestamp, current.timestamp)
    val intervals = math.ceil(
      behind.getSeconds.toDouble / interval.getSeconds.toDouble).toLong
    val buffer = math.ceil(
      before.getSeconds.toDouble / interval.getSeconds.toDouble).toLong
    current.sequence - intervals - buffer
  }

  /** Poll loop skeleton (update/cmd.go:231-257): fetch the next sequence's
    * diff into `downloadDir` until `fetch` fails (not yet available), with
    * the caller handling backoff/retry. Returns the last fetched sequence.
    */
  def fetchAvailable(base: String, from: Long, downloadDir: String,
      fetch: (String, String) => Boolean): Long = {
    var seq = from
    var ok = true
    while (ok) {
      val target = s"$downloadDir/${f"$seq%09d"}.osc.gz"
      ok = fetch(diffUrl(base, seq), target)
      if (ok) seq += 1
    }
    seq - 1
  }

  /** Exponential doubling backoff (reference update/cmd.go:386-411): starts
    * at `minMs`, doubles per wait, capped at `maxMs`. `sleep` is injectable
    * so specs can count waits instead of waiting.
    */
  final class ExpBackoff(minMs: Long, maxMs: Long,
      sleep: Long => Unit = Thread.sleep) {
    private var current = minMs
    def waitOnce(): Unit = { sleep(current); current = math.min(current * 2, maxMs) }
    def reset(): Unit = current = minMs
  }

  /** HTTP transport for the fetch seam (reference update/cmd.go:60 http.Get;
    * backoff ladder of update/cmd.go:273, 386-411). Semantics:
    *
    *  - 200: stream the body to `target` via a same-directory temp file +
    *    atomic rename, so a crash mid-download never leaves a torn diff for
    *    the streaming source to pick up;
    *  - 404/410: the sequence is not published yet — `false`, no retry
    *    (this is [[fetchAvailable]]'s normal stop signal, not an error);
    *  - 5xx and connect/read timeouts: transient — retry up to `retries`
    *    with doubling backoff;
    *  - any other status: permanent — fail fast.
    */
  /** Marker for non-retryable fetch failures (unexpected status, retries
    * exhausted on 5xx) so the transient catch below can't resurrect them. */
  private final class PermanentFetchError(msg: String)
    extends java.io.IOException(msg)

  def httpFetch(retries: Int = 5, minBackoffMs: Long = 2000,
      maxBackoffMs: Long = 300000, sleep: Long => Unit = Thread.sleep)
      (url: String, target: String): Boolean = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val backoff = new ExpBackoff(minBackoffMs, maxBackoffMs, sleep)
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        val conn = java.net.URI.create(url).toURL.openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(30000)
        conn.setReadTimeout(60000)
        conn.setRequestProperty("User-Agent", "graft-replication")
        conn.getResponseCode match {
          case 200 =>
            val dst = Paths.get(target)
            if (dst.getParent != null) Files.createDirectories(dst.getParent)
            val tmp = Paths.get(target + ".part")
            val in = conn.getInputStream
            // a reset mid-body is as transient as a connect failure: clean
            // up the torn .part and let the outer catch retry it
            try Files.copy(in, tmp, StandardCopyOption.REPLACE_EXISTING)
            catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
            finally in.close()
            Files.move(tmp, dst, StandardCopyOption.REPLACE_EXISTING,
              StandardCopyOption.ATOMIC_MOVE)
            return true
          case 404 | 410 =>
            return false
          case code if code >= 500 =>
            if (attempt > retries)
              throw new PermanentFetchError(
                s"HTTP $code for $url after $attempt attempts")
            backoff.waitOnce()
          case code =>
            throw new PermanentFetchError(s"HTTP $code for $url")
        }
      } catch {
        case e: PermanentFetchError => throw e
        // retry ONLY network-shaped failures (connect, DNS, timeout, reset,
        // torn body). Local-filesystem IOExceptions (target dir not
        // writable, disk full) propagate immediately — retrying them just
        // delays the real error by minutes of backoff.
        case e @ (_: java.net.ConnectException |
                  _: java.net.SocketTimeoutException |
                  _: java.net.SocketException |
                  _: java.net.UnknownHostException |
                  _: java.io.EOFException) =>
          if (attempt > retries)
            throw new java.io.IOException(
              s"$url unreachable after $attempt attempts", e)
          backoff.waitOnce()
      }
    }
    false // unreachable
  }

  /** Default fetch: copy `url` → local `target` through Hadoop FS (handles
    * file://, hdfs://, s3a:// — whatever the classpath mounts). */
  def hadoopFetch(spark: SparkSession)(url: String, target: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(url)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) false
    else {
      val dst = new Path(target)
      val dstFs = dst.getFileSystem(conf)
      val in = fs.open(src)
      try {
        val out = dstFs.create(dst, true)
        try {
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
        } finally out.close()
      } finally in.close()
      true
    }
  }

  private def localStatePath(stateDir: String) = new Path(stateDir, "replication.state.txt")

  /** Local replication pointer (the reference's `last.state.txt`). */
  def readLocalState(spark: SparkSession, stateDir: String): Option[State] =
    readLocalStateAt(spark, localStatePath(stateDir).toString)

  def writeLocalState(spark: SparkSession, stateDir: String, s: State): Unit =
    writeLocalStateAt(spark, localStatePath(stateDir).toString, s)

  /** Read an osmosis-format state file at an explicit path (the diff
    * command's `last.state.txt` and `.osc` sidecar states). */
  def readLocalStateAt(spark: SparkSession, path: String): Option[State] = {
    val p = new Path(path)
    Pointer.read(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)(t =>
      parseState(new ByteArrayInputStream(t.getBytes("UTF-8"))))
  }

  /** Replace the state file at `path` through the [[Pointer]] protocol. */
  def writeLocalStateAt(spark: SparkSession, path: String, s: State): Unit = {
    val p = new Path(path)
    Pointer.replace(p.getFileSystem(spark.sparkContext.hadoopConfiguration), p, stateText(s))
  }

  /** One full replication cycle (update/cmd.go:231-257 assembled):
    *
    *  1. resume from the local pointer (or `from` on first run);
    *  2. download every already-published diff into `workDir/downloads`;
    *  3. apply them in sequence order through [[DiffPipeline.runStream]]
    *     (Structured Streaming file source + checkpoint = exactly-once
    *     discovery; StateStore commit = idempotent re-apply, so a crash
    *     between files replays safely);
    *  4. advance the local pointer to the endpoint's state.txt for the
    *     last applied sequence (timestamp included when published).
    *
    * Returns the last applied sequence, or `from - 1` when nothing was
    * available. Call in a scheduler loop for continuous `imposm run`.
    */
  def replicate(spark: SparkSession, mapping: CompiledMapping, stateDir: String,
      endpoint: String, workDir: String, from: Long, srid: Int = 3857,
      fetch: Option[(String, String) => Boolean] = None,
      expireDir: Option[String] = None,
      expireZoom: Int = graft.operators.ExpireTiles.DefaultZoom): Long = {
    val doFetch = fetch.getOrElse(hadoopFetch(spark) _)
    val start = readLocalState(spark, stateDir).map(_.sequence + 1).getOrElse(from)
    val downloads = s"$workDir/downloads"
    val last = fetchAvailable(endpoint, start, downloads, doFetch)
    if (last < start) return start - 1
    val q = DiffPipeline.runStream(spark, mapping, stateDir, downloads,
      s"$workDir/checkpoint", srid, expireDir = expireDir, expireZoom = expireZoom)
    q.awaitTermination()
    // the endpoint publishes a state.txt per sequence; fall back to a
    // timestamp-less pointer when it doesn't
    val ts = {
      val tmp = s"$downloads/${f"$last%09d"}.state.txt"
      if (doFetch(stateUrl(endpoint, last), tmp)) {
        val p = new Path(tmp)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(p)
        try parseState(in).timestamp finally in.close()
      } else Instant.EPOCH
    }
    writeLocalState(spark, stateDir, State(last, ts))
    last
  }
}
