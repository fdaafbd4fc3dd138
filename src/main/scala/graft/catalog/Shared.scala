package graft
package catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Helpers that queries of more than one family use. */
object Shared {

  private[catalog] def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Engine.table(spark, dir, name)

  /** Stopword list shared by the text-quality operators and their oracles
    * (and the diagnostic mains under `tools/`). */
  private[graft] val Stopwords =
    Seq("the", "a", "and", "of", "to", "in", "is", "for", "on", "with")

  /** Oracle-stable rounding: money-style inputs make aggregate averages land
    * EXACTLY on round-half boundaries (e.g. avg = 46.49875), where the two
    * engines' float summation order decides the direction. A +1e-9 nudge —
    * far above float noise (~1e-12 rel), far below data resolution (0.01) —
    * applied identically in the Spark plan and the oracle SQL makes the
    * rounding deterministic on both sides.
    */
  private[catalog] def rnd(c: Column, d: Int): Column = round(c + lit(1e-9), d)

  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Replay the events table through a streaming query and return the
    * in-memory sink table. Blocks until the replay drains — the streaming
    * analog of an action.
    */
  private[catalog] def replayStream(
      s: SparkSession,
      dir: String,
      mode: String)(build: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // isolated child session (shared SparkContext, own conf/catalog): the
    // replay's stateful operators pay per-state-store-partition overhead
    // (HDFS-backed checkpoint files per partition per batch), which at this
    // replay size dwarfs the compute — 8 partitions, not the session's 32.
    // On a real cluster the replay wouldn't exist (the stream is the input);
    // state-store partition sizing is a per-query knob either way.
    // newSession inherits only BUILDER-time conf (SparkConf), not runtime
    // spark.conf.set calls — the engine's confs (UTC, nanosAsLong, ANSI
    // off) are all builder-time in Engine.session, so the child has them
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    // schema from a static footer read, not hardcoded: TESTDATA `events.ts`
    // has shipped both as TIMESTAMP(NANOS) (Long under nanosAsLong) and as
    // naive TIMESTAMP(MICROS) — the replay must accept either vintage
    val schema = ss.read.parquet(s"$dir/events.parquet").schema
    // the streaming file source requires a DIRECTORY of leaf files and does
    // not recurse: expose events.parquet through temp-dir symlinks — the
    // file itself when it is a single file (TESTDATA), or each contained
    // part file when it is a directory-style parquet dataset (scaled /
    // engine-written corpora)
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    // toAbsolutePath: a symlink TARGET is stored verbatim — a relative
    // target would resolve against the temp dir and dangle silently
    // (0-file listing, empty replay) whenever the caller passed a relative
    // data dir
    val eventsPath =
      java.nio.file.Paths.get(s"$dir/events.parquet").toAbsolutePath
    val linked: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(eventsPath)) {
        import scala.jdk.CollectionConverters._
        val listing = java.nio.file.Files.list(eventsPath)
        // Files.list requires an explicit close (directory fd leak otherwise)
        val parts =
          try listing.iterator().asScala.toSeq
          finally listing.close()
        parts
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map { p =>
            java.nio.file.Files.createSymbolicLink(
              streamDir.resolve(p.getFileName), p.toAbsolutePath)
          }
      } else {
        Seq(java.nio.file.Files.createSymbolicLink(
          streamDir.resolve("events.parquet"), eventsPath))
      }
    // fail LOUD, not with an empty replay: a nested/Hive-partitioned layout
    // (key=x/part.parquet) has no top-level leaf files and would otherwise
    // stream zero events and green-light every downstream assertion
    require(
      linked.nonEmpty,
      s"replay source $eventsPath contains no top-level *.parquet leaf files")
    try {
      val read = ss.readStream.schema(schema).parquet(streamDir.toString)
      val raw = schema("ts").dataType match {
        case LongType =>
          // exact integer ns→µs division — same floor semantics as Engine.table
          read.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => read.withColumn("ts", col("ts").cast(TimestampType))
        case _ => read
      }
      drainToTable(ss, build(raw), mode)
    } finally {
      // deleteOnExit is a no-op on a non-empty directory — drop the
      // symlinks (not their targets) and the dir once the replay has drained
      linked.foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.deleteIfExists(streamDir)
    }
  }

  /** Run a streaming frame to a memory sink, block until drained, return
    * the materialized result. localCheckpoint detaches the rows so the
    * sink view can be dropped immediately — its buffered rows live in
    * driver memory and would otherwise accumulate across a 60+-query sweep.
    */
  private def drainToTable(ss: SparkSession, out: DataFrame, mode: String): DataFrame = {
    val name = s"graft_stream_${streamSeq.incrementAndGet()}"
    val q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val res = ss.table(name).localCheckpoint(eager = true)
    ss.catalog.dropTempView(name)
    res
  }

  /** Replay an arbitrary (small, pre-aggregated) batch frame as a stream —
    * the "upstream stage feeds a downstream stateful consumer" pipeline
    * split: write it to a temp parquet dir, stream it back in the same
    * right-sized child session replayStream uses.
    */
  private[catalog] def replayFrame(
      s: SparkSession,
      frame: DataFrame,
      mode: String)(build: (SparkSession, DataFrame) => DataFrame): DataFrame = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    val dirTmp = java.nio.file.Files.createTempDirectory("graft-frame-stream")
    try {
      frame.write.mode("overwrite").parquet(dirTmp.toString)
      val raw = ss.readStream.schema(frame.schema).parquet(dirTmp.toString)
      drainToTable(ss, build(ss, raw), mode)
    } finally {
      // deleteOnExit is a no-op on a non-empty directory — remove the
      // replay's parquet tree explicitly (the result is already
      // localCheckpoint-detached, so nothing references these files)
      deleteTree(dirTmp)
    }
  }

  /** Delete a file tree, children before parents. */
  private[catalog] def deleteTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
  }

  private val exitDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  sys.addShutdownHook(exitDirs.forEach(d => if (java.nio.file.Files.exists(d)) deleteTree(d)))

  /** `d`, deleted with its contents when the JVM exits (a `deleteOnExit`
    * on a directory is a no-op once it has contents).
    */
  private[graft] def deleteAtExit(d: java.nio.file.Path): java.nio.file.Path = {
    exitDirs.add(d)
    d
  }

  /** A fresh directory under the system temp dir, deleted with its
    * contents when the JVM exits — for queries whose returned frame still
    * reads the directory lazily (a stored IVF index is read at action time;
    * a restored monitor state pins lazily in its last stage), so it cannot
    * go when the query's build function returns.
    */
  private[graft] def exitScopedDir(prefix: String): String =
    deleteAtExit(java.nio.file.Files.createTempDirectory(prefix)).toString

  /** Shared oracle fragment: the document quality score (q13's formula),
    * guarded for empty/whitespace-only docs — DuckDB's bare formula
    * diverges there (split of '' has len 1; length 0 divides by zero and
    * greatest() drops the NULL), while TF.qualityScore returns exactly 0.3
    * (len 0, punct 1.0, stop 0). ONE definition interpolated into every
    * query that scores quality, so the weights/threshold can never drift
    * between copies.
    */
  private[catalog] def qualitySqlExpr(textCol: String): String =
    s"""CASE WHEN trim($textCol) = '' THEN 0.3 ELSE round(
       |      least(len(regexp_split_to_array(trim($textCol), '\\s+')) / 50.0, 1.0) * 0.4 +
       |      greatest(0.0, 1.0 -
       |        ((length($textCol) - length(regexp_replace($textCol, '[^\\p{L}\\p{N}\\s]', '', 'g')))
       |          / CAST(length($textCol) AS DOUBLE)) * 4) * 0.3 +
       |      least((len(list_filter(regexp_split_to_array(trim($textCol), '\\s+'),
       |          t -> list_contains(['the','a','and','of','to','in','is','for','on','with'], lower(t))))
       |        / CAST(len(regexp_split_to_array(trim($textCol), '\\s+')) AS DOUBLE)) * 5, 1.0) * 0.3
       |      + 1e-9, 6) END""".stripMargin
}
