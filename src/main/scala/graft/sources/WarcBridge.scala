package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Inflater}

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._

import graft.config.YamlConfig.ConfigError

/** WARC (ISO 28500) ingestion without any external connector — the
  * container format Common Crawl publishes (`.warc.gz` response archives
  * and `.wet.gz` extracted-text "conversion" records), i.e. the raw input
  * of a real pretraining corpus pipeline. Same integration shape as
  * [[AvroBridge]]: `binaryFile` lists the files (batch or stream — WARC
  * gzip members are not split-points, so the FILE is the parallelism unit,
  * exactly how Common Crawl shards its corpus into ~1 GB files), and the
  * bridge decodes records per file.
  *
  * Unlike avro, a WARC record's shape is FIXED — [[recordSchema]] — so
  * schema declaration/inference/evolution/rescue do not apply (the
  * cloudfiles integration refuses them loudly); the PAYLOAD stays `binary`
  * with its declared Content-Type beside it, the multimodal convention
  * (`graft.multimodal`) for opaque media.
  *
  * Strictness posture: NO silent tail-drop, enforced at both layers.
  * Gzip members are inflated by hand (header parse incl. FEXTRA/FNAME/
  * FCOMMENT/FHCRC, raw-deflate Inflater, CRC32 + ISIZE trailer check) —
  * the JDK's multi-member GZIPInputStream silently treats a CORRUPT
  * subsequent member as clean EOF, which would drop tail records; here a
  * corrupt boundary, bad CRC, or trailing garbage fails loudly with the
  * file named. Record framing per ISO 28500: version line, CRLF
  * discipline, mandatory WARC-Type/WARC-Record-ID/WARC-Date/
  * Content-Length (names case-insensitive per the spec), folded
  * continuation lines honored, legally-repeated fields joined with ", "
  * in the headers map, header text decoded UTF-8. Violations fail with
  * file + record index. Decompression is whole-file eager — the
  * binaryFile listing already holds the compressed bytes in memory, and
  * the file is the work unit by construction. */
object WarcBridge {

  val recordSchema: StructType = StructType(Seq(
    StructField("warc_type", StringType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("warc_date", TimestampType, nullable = false),
    StructField("target_uri", StringType, nullable = true),
    StructField("content_type", StringType, nullable = true),
    StructField("content_length", LongType, nullable = false),
    StructField("headers", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Decode a `binaryFile` frame (streaming or batch) of `.warc` /
    * `.warc.gz` / `.wet(.gz)` files into [[recordSchema]] rows.
    *
    * Fully streaming, end to end: only the PATH column is read from the
    * binaryFile frame (column pruning keeps the relation from
    * materializing file contents), each task re-opens its files through
    * the Hadoop filesystem and feeds the gzip member iterator straight
    * from the FS stream. Per-task memory is O(one record + a 64 KB read
    * buffer) — NOT O(compressed file): 32 concurrent tasks over 1 GB
    * Common Crawl response shards hold ~2 MB of archive between them,
    * where the old whole-`content` path held 32 GB before decode began.
    * A single-member archive holding many records degrades gracefully
    * (buffer = largest record run), bounded by the same loud per-member
    * limit. Streams close on task completion — success, failure, or
    * cancellation. */
  def decode(bin: DataFrame): DataFrame = {
    val fs = new org.apache.spark.sql.graftnative.FsInput(bin.sparkSession)
    bin.select("path").mapPartitions { it =>
      it.flatMap { fileRow =>
        val path = fileRow.getString(0)
        val in = fs.open(path)
        var closed = false
        def closeQuiet(): Unit = if (!closed) {
          closed = true
          try in.close() catch { case _: java.io.IOException => () }
        }
        // failure/cancellation safety net; the happy path closes EAGERLY
        // below — a partition packing thousands of small shards must not
        // accumulate one open fd (and object-store connection) per
        // already-consumed file until task end
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => closeQuiet()))
        val chunks =
          if (path.endsWith(".gz")) gunzipMembersStream(in, path)
          else chunkedStream(in, path)
        val rows = parseRecords(chunks, path)
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = rows.hasNext
            if (!h) closeQuiet()
            h
          }
          def next(): Row = rows.next()
        }
      }
    }(Encoders.row(recordSchema))
  }

  /** Fixed-size chunks of an uncompressed stream — the plain-`.warc`
    * feed for [[parseRecords]]'s record-at-a-time buffering. */
  private def chunkedStream(in: java.io.InputStream,
      path: String): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private val buf = new Array[Byte](1 << 20)
    private var pending: Array[Byte] = null
    private var eof = false
    private def fill(): Unit = if (pending == null && !eof) {
      var n = 0
      while (n < buf.length && !eof) {
        val r = in.read(buf, n, buf.length - n)
        if (r < 0) eof = true else n += r
      }
      if (n > 0) pending = java.util.Arrays.copyOf(buf, n)
    }
    def hasNext: Boolean = { fill(); pending != null }
    def next(): Array[Byte] = {
      fill()
      if (pending == null) throw new NoSuchElementException
      val r = pending; pending = null; r
    }
  }

  // ------------------------------------------------------------- gunzip

  /** Inflate gzip members ONE AT A TIME from a stream, loudly: corrupt
    * member headers, CRC/ISIZE mismatches, truncated deflate streams, and
    * trailing non-gzip garbage all throw with `path` named — never a
    * silent EOF (the JDK's multi-member GZIPInputStream treats exactly
    * these as clean end-of-stream). Reads LAZILY: each `next()` consumes
    * only its member's compressed bytes plus at most one 64 KB read-ahead
    * block, so memory is O(largest single decompressed member + 64 KB) —
    * never the archive, compressed or not. */
  private[sources] def gunzipMembersStream(in0: java.io.InputStream,
      path: String): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    def fail(msg: String): Nothing = throw ConfigError(s"warc: '$path': $msg")
    private val maxOut = Int.MaxValue - 64
    private val in = new java.io.PushbackInputStream(
      new java.io.BufferedInputStream(in0, 64 * 1024), 64 * 1024 + 8)
    private val inBuf = new Array[Byte](64 * 1024)
    private val outBuf = new Array[Byte](64 * 1024)
    private var offset = 0L // consumed compressed bytes, for messages
    private var member = 0
    def hasNext: Boolean = {
      val b = in.read()
      if (b >= 0) { in.unread(b); true } else false
    }
    def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException
      val memberStart = offset
      def u8(): Int = {
        val b = in.read()
        if (b < 0) fail(s"gzip member $member: truncated at byte $offset")
        offset += 1
        b
      }
      val (m0, m1) = (u8(), u8())
      if (m0 != 0x1f || m1 != 0x8b)
        fail(s"gzip member $member at offset $memberStart: bad magic " +
          f"0x$m0%02x$m1%02x (corrupt member boundary or trailing garbage)")
      val cm = u8()
      if (cm != 8) fail(s"gzip member $member: unsupported compression method $cm")
      val flg = u8()
      var i = 0
      while (i < 6) { u8(); i += 1 } // MTIME, XFL, OS
      if ((flg & 4) != 0) { val xlen = u8() | (u8() << 8) // FEXTRA
        var j = 0; while (j < xlen) { u8(); j += 1 } }
      if ((flg & 8) != 0) while (u8() != 0) () // FNAME
      if ((flg & 16) != 0) while (u8() != 0) () // FCOMMENT
      if ((flg & 2) != 0) { u8(); u8() } // FHCRC
      val inf = new Inflater(true)
      val crc = new CRC32
      val out = new ByteArrayOutputStream(64 * 1024)
      var isize = 0L
      var total = 0L
      var lastN = 0
      try {
        while (!inf.finished()) {
          if (inf.needsInput()) {
            lastN = in.read(inBuf)
            if (lastN < 0) fail(s"gzip member $member: truncated deflate stream")
            offset += lastN
            inf.setInput(inBuf, 0, lastN)
          }
          val n = try inf.inflate(outBuf)
            catch { case e: java.util.zip.DataFormatException =>
              fail(s"gzip member $member: corrupt deflate data (${e.getMessage})") }
          if (n > 0) {
            crc.update(outBuf, 0, n)
            isize += n
            total += n
            if (total > maxOut) fail(
              s"gzip member $member alone exceeds the JVM array limit (~2 GB)")
            out.write(outBuf, 0, n)
          }
        }
        // the deflate tail over-read into inBuf: hand it back for the
        // trailer + next member
        val rem = inf.getRemaining
        if (rem > 0) { in.unread(inBuf, lastN - rem, rem); offset -= rem }
        def le32(): Long =
          try {
            val t = Array(u8(), u8(), u8(), u8())
            (t(0) | (t(1) << 8) | (t(2) << 16) | (t(3).toLong << 24)) & 0xffffffffL
          } catch { case _: ConfigError =>
            fail(s"gzip member $member: truncated trailer") }
        val storedCrc = le32()
        if (storedCrc != crc.getValue)
          fail(s"gzip member $member: CRC mismatch (stored $storedCrc, computed ${crc.getValue})")
        if (le32() != (isize & 0xffffffffL))
          fail(s"gzip member $member: ISIZE mismatch")
        member += 1
      } finally inf.end()
      out.toByteArray
    }
  }

  // ------------------------------------------------------------- parser

  /** Buffered sequential record parse over an iterator of decompressed
    * chunks (gzip members, or one chunk for a plain file). A record is
    * consumed as soon as the buffer holds it COMPLETELY; otherwise the
    * next chunk appends. Memory = leftover partial record + one chunk —
    * for Common Crawl's record-per-member layout that is ~one record, so
    * archives far past the JVM array limit stream through. Truncation
    * stays loud: a partial record with no chunks left routes into
    * [[parseOne]], whose named errors fire exactly as in the whole-array
    * parse. Consumed prefixes compact away once they pass 1 MB, so the
    * buffer never accretes the archive. */
  private def parseRecords(chunks: Iterator[Array[Byte]], path: String): Iterator[Row] =
    new Iterator[Row] {
      // capacity grows GEOMETRICALLY and `len` tracks the filled prefix:
      // exact-fit growth re-copied the whole accumulated buffer per
      // appended chunk — O(n^2) bytes memcpy'd for one record larger
      // than the chunk size (a 500 MB payload in 1 MB chunks = ~125 GB
      // of copying). Everything below bounds by `len`, never capacity.
      private var buf = Array.emptyByteArray
      private var len = 0
      private var off = 0
      private var recordIdx = 0

      private def append(chunk: Array[Byte]): Unit = {
        if (off > (1 << 20)) { // compact the consumed prefix
          System.arraycopy(buf, off, buf, 0, len - off)
          len -= off
          off = 0
        }
        if (len.toLong + chunk.length > Int.MaxValue - 64)
          throw ConfigError(s"warc: '$path': a single record spans more " +
            "than the JVM array limit (~2 GB) of buffered archive — " +
            "record-at-a-time members are required at this size")
        if (len + chunk.length > buf.length) {
          val cap = math.min(Int.MaxValue.toLong - 64,
            math.max(buf.length.toLong * 2, len.toLong + chunk.length)).toInt
          buf = java.util.Arrays.copyOf(buf, cap)
        }
        System.arraycopy(chunk, 0, buf, len, chunk.length)
        len += chunk.length
      }

      /** Whether buf holds a complete record at `off`. Conservative: any
        * header irregularity answers true and lets parseOne fail loudly
        * with full record context. */
      private def complete(): Boolean = {
        var i = off
        while (i + 3 < len &&
          !(buf(i) == '\r' && buf(i + 1) == '\n' &&
            buf(i + 2) == '\r' && buf(i + 3) == '\n')) i += 1
        if (i + 3 >= len) return false // header block still open
        val headerText = new String(buf, off, i - off, StandardCharsets.UTF_8)
        val cls = "(?im)^content-length\\s*:\\s*(\\d{1,18})\\s*$".r
          .findAllMatchIn(headerText).map(_.group(1).toLong).toSeq
        cls match {
          case Seq(cl) => i.toLong + 4 + cl + 4 <= len
          case _ => true // missing/odd Content-Length: parseOne names it
        }
      }

      def hasNext: Boolean = {
        while (!complete() && chunks.hasNext) append(chunks.next())
        off < len
      }

      def next(): Row = {
        if (!hasNext) throw new NoSuchElementException
        val (row, nextPos) = parseOne(buf, off, len, path, recordIdx)
        off = nextPos
        recordIdx += 1
        row
      }
    }

  private def parseOne(bytes: Array[Byte], start: Int, end: Int,
      path: String, recordIdx: Int): (Row, Int) = {
    def fail(msg: String): Nothing =
      throw ConfigError(s"warc: '$path' record $recordIdx: $msg")
    // header block ends at the first CRLFCRLF
    var hEnd = start
    while (hEnd + 3 < end &&
      !(bytes(hEnd) == '\r' && bytes(hEnd + 1) == '\n' &&
        bytes(hEnd + 2) == '\r' && bytes(hEnd + 3) == '\n')) hEnd += 1
    if (hEnd + 3 >= end) fail("unterminated header block (no CRLFCRLF)")
    val headerText = new String(bytes, start, hEnd - start, StandardCharsets.UTF_8)
    if (headerText.contains("\n") && !headerText.contains("\r\n"))
      fail("bare LF in header (WARC requires CRLF)")
    val rawLines = headerText.split("\r\n", -1)
    if (rawLines.exists(_.contains("\n"))) fail("bare LF in header (WARC requires CRLF)")
    val version = rawLines.head
    if (version != "WARC/1.0" && version != "WARC/1.1")
      fail(s"bad version line '$version'")
    // fold continuations (ISO 28500: a line starting with SP/HT continues
    // the previous field's value)
    val folded = rawLines.tail.foldLeft(Vector.empty[String]) { (acc, line) =>
      if (line.nonEmpty && (line.head == ' ' || line.head == '\t')) {
        if (acc.isEmpty) fail("continuation line before any header field")
        acc.init :+ (acc.last + " " + line.trim)
      } else acc :+ line
    }
    val headerPairs = folded.filter(_.nonEmpty).map { line =>
      val i = line.indexOf(':')
      if (i < 1) fail(s"malformed header line '$line'")
      line.substring(0, i).trim -> line.substring(i + 1).trim
    }
    // exposed map keeps original names; legally-repeated fields (e.g.
    // WARC-Concurrent-To) join with ", " instead of silently last-wins
    val headers: Map[String, String] = headerPairs.groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).mkString(", ") }
    // field-name lookup is case-insensitive per the spec; FIRST occurrence
    val byLower: Map[String, String] =
      headerPairs.reverse.map { case (k, v) => k.toLowerCase -> v }.toMap
    def mandatory(k: String): String =
      byLower.getOrElse(k.toLowerCase, fail(s"missing mandatory header $k"))
    val len = try mandatory("Content-Length").toLong
      catch { case _: NumberFormatException =>
        fail(s"non-numeric Content-Length '${mandatory("Content-Length")}'") }
    if (len < 0 || len > Int.MaxValue - 8) fail(s"unsupported Content-Length $len")
    val date = try java.sql.Timestamp.from(
        java.time.Instant.parse(mandatory("WARC-Date")))
      catch { case _: java.time.format.DateTimeParseException =>
        fail(s"bad WARC-Date '${mandatory("WARC-Date")}'") }
    val payloadStart = hEnd + 4
    // bound computed in LONG: a corrupt multi-GB Content-Length near the
    // array limit would wrap an Int sum negative, slip past the guard, and
    // surface as a bare copyOfRange exception with no file/record context
    val payloadEndL = payloadStart.toLong + len
    if (payloadEndL > end)
      fail(s"payload truncated (${end - payloadStart} of $len bytes)")
    val payloadEnd = payloadEndL.toInt
    val payload = java.util.Arrays.copyOfRange(bytes, payloadStart, payloadEnd)
    if (payloadEnd + 4 > end ||
        bytes(payloadEnd) != '\r' || bytes(payloadEnd + 1) != '\n' ||
        bytes(payloadEnd + 2) != '\r' || bytes(payloadEnd + 3) != '\n')
      fail("missing double CRLF closing the record")
    (Row(mandatory("WARC-Type"), mandatory("WARC-Record-ID"), date,
      byLower.get("warc-target-uri").orNull,
      byLower.get("content-type").orNull, len, headers, payload),
      payloadEnd + 4)
  }

  // ------------------------------------------------------------- writer

  /** Write rows of `(warc_type, record_id, warc_date, target_uri,
    * content_type, payload)` as WARC files, one per partition, gzipped
    * member-per-record when `gzip` — the fixture/egress twin of
    * [[decode]], byte-compatible with any spec-conforming reader.
    * Commit protocol: each attempt writes to a hidden per-ATTEMPT
    * in-progress name (partial output from a failed attempt stays
    * invisible — Spark skips dot-files), then ATOMICALLY overwrite-renames
    * to a per-PARTITION final name (FileContext.rename OVERWRITE — one
    * operation, so the final path always holds some complete attempt's
    * bytes; a delete-then-rename pair would let a dying re-attempt remove
    * a committed file and report the partition lost-but-successful).
    * Final names carry no attempt id, so a speculative duplicate or a
    * retried task whose first attempt already committed can only REPLACE
    * partition `pid`'s file with byte-identical content (the partition's
    * row set is deterministic), never land a second final file that
    * duplicates records on re-read.
    * Header-bearing columns must not contain CR/LF — header
    * injection would corrupt the archive framing — and the mandatory
    * columns must be non-null; both refuse loudly per row.
    * SINGLE WRITER per target directory, enforced via the cross-process
    * writer lock on local filesystems (see [[StagedCommit]]): the staging
    * sweep at write start deletes every in-flight `.inprogress` file, so
    * concurrent writes to the same `dir` would destroy each other — a
    * concurrent writer now waits or refuses loudly. */
  def write(df: DataFrame, dir: String, gzip: Boolean = true): Unit =
    graft.exec.WriterLock.withLock(dir, s"warc bridge dir '$dir'",
        graft.exec.WriterLock.waitMs(df.sparkSession)) {
      writeLocked(df, dir, gzip)
    }

  private def writeLocked(df: DataFrame, dir: String, gzip: Boolean): Unit = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val cols = Seq("warc_type", "record_id", "warc_date", "target_uri",
      "content_type", "payload")
    val ext = if (gzip) ".warc.gz" else ".warc"
    // commit protocol (staging names, HDFS/local-only rename atomicity,
    // stale-staging janitor): see StagedCommit's scaladoc
    StagedCommit.sweepStaging(dir, conf.value)
    df.selectExpr(cols: _*).foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf.value)
        // final name keyed by partition id ONLY (attempt id stays on the
        // staging name): re-attempts overwrite rather than accumulate
        val finalPath = new org.apache.hadoop.fs.Path(dir, f"part-$pid%05d$ext")
        val tmpPath = new org.apache.hadoop.fs.Path(dir, f".part-$pid%05d-$attempt$ext.inprogress")
        val os = fs.create(tmpPath, true)
        def field(r: Row, i: Int, name: String, mandatoryCol: Boolean): Option[String] =
          if (r.isNullAt(i)) {
            if (mandatoryCol) throw ConfigError(s"warc write: null $name")
            None
          } else {
            val v = r.getString(i)
            if (v.exists(c => c == '\r' || c == '\n')) throw ConfigError(
              s"warc write: $name contains CR/LF ('$v') — header injection " +
                "would corrupt the archive framing")
            Some(v)
          }
        try {
          it.foreach { r =>
            val payload = r.getAs[Array[Byte]](5)
            if (payload == null) throw ConfigError("warc write: null payload")
            val head = new java.lang.StringBuilder(256)
            head.append("WARC/1.0\r\n")
            head.append("WARC-Type: ").append(field(r, 0, "warc_type", mandatoryCol = true).get).append("\r\n")
            head.append("WARC-Record-ID: ").append(field(r, 1, "record_id", mandatoryCol = true).get).append("\r\n")
            if (r.isNullAt(2)) throw ConfigError("warc write: null warc_date")
            head.append("WARC-Date: ").append(r.getTimestamp(2).toInstant.toString).append("\r\n")
            field(r, 3, "target_uri", mandatoryCol = false).foreach(v =>
              head.append("WARC-Target-URI: ").append(v).append("\r\n"))
            field(r, 4, "content_type", mandatoryCol = false).foreach(v =>
              head.append("Content-Type: ").append(v).append("\r\n"))
            head.append("Content-Length: ").append(payload.length).append("\r\n\r\n")
            val rec = new ByteArrayOutputStream(256 + payload.length)
            rec.write(head.toString.getBytes(StandardCharsets.UTF_8))
            rec.write(payload)
            rec.write("\r\n\r\n".getBytes(StandardCharsets.UTF_8))
            if (gzip) {
              // one gzip member per record (Common Crawl's layout). The
              // member stream is CLOSED (not just finished) so its native
              // Deflater is released per record; the shield keeps the
              // underlying file open across members.
              val shield = new java.io.FilterOutputStream(os) {
                override def write(b: Array[Byte], off: Int, len: Int): Unit =
                  os.write(b, off, len)
                override def close(): Unit = flush()
              }
              val gz = new java.util.zip.GZIPOutputStream(shield)
              gz.write(rec.toByteArray)
              gz.close()
            } else os.write(rec.toByteArray)
          }
          os.close()
          graft.exec.CrashForge.maybeHalt("warc_commit") // stage↔rename window
          // last attempt wins via ONE atomic overwrite-rename (FileContext
          // carries the OVERWRITE flavor plain FileSystem.rename lacks).
          // A delete-then-rename pair here would open a window where a
          // speculative/retried attempt has deleted the prior attempt's
          // COMMITTED file and dies before its own rename — the job would
          // report success with the partition's records gone. Atomic
          // replace means finalPath always holds some complete attempt's
          // bytes (all attempts byte-identical — same partition,
          // deterministic row order).
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            finalPath.toUri, conf.value)
          fc.rename(tmpPath, finalPath,
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } catch { case e: Throwable =>
          try os.close() catch { case _: Throwable => }
          throw e
        }
      }
    }
  }
}
