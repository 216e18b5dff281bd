package graft.operators

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ListBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions.{col, concat_ws, lit, udf}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.util.sketch.BloomFilter

/** A commit lost its race: the target manifest version was taken (or the
  * store moved past the version the commit was planned against). The
  * CONTRACT, not a failure of it — the loser re-reads the new current
  * snapshot and retries ([[CorpusStore.tick]]'s bounded loop does exactly
  * that). Subtypes `IllegalStateException` so pre-existing catch sites
  * keep working.
  */
final class CommitConflictException(msg: String)
  extends IllegalStateException(msg)

/** A minimal snapshot-manifest table format: the dependency-free analog of
  * the single-statement transactional upserts the reference gets from
  * Postgres (`aggregators/base.py:155-238` — one INSERT .. ON CONFLICT is
  * atomic; a partition-dir swap on object storage is not).
  *
  * Layout under `root/`:
  * {{{
  *   _manifests/v00000000000000000001.manifest   one line per LIVE data file
  *   data/p_date=2024-01-01/part-...-<uuid>.parquet
  * }}}
  *
  * Protocol (write side):
  *   1. write: [[writeFiles]] writes fresh files straight into `data/`
  *      under their partition dirs (one job, sidecars and per-file stats
  *      included). File names carry a UUID, so versions never collide and
  *      written-but-uncommitted files are invisible.
  *   2. commit: write the next manifest to a temp name, then one atomic
  *      `rename` — the ONLY mutation readers can observe. A crash anywhere
  *      before it leaves the previous snapshot fully intact (orphan files
  *      only; the deep `vacuum` reclaims them).
  *
  * Read side: the manifest IS the file listing — no recursive directory
  * listing, which at 100 TB (millions of files on object storage) is itself
  * the scan-planning bottleneck this format removes. Readers pin a snapshot:
  * a concurrent commit cannot make them see a torn mix of versions. Every
  * table built on the format turns a resolved version's files into a frame
  * through [[readFiles]], and maps a scanned file back to its manifest path
  * through [[manifestPathOf]].
  *
  * Single writer assumed for store-level housekeeping (vacuum — the
  * reference's collectors are single-flow too), but the COMMIT itself is
  * conditional: the manifest install fails loudly when the target
  * version already exists — atomically on local filesystems (hard link) and
  * HDFS (conditional rename), best-effort on object stores unless a
  * conditional-write [[commitPublisher]] is plugged in. A racing committer
  * can therefore never silently overwrite a manifest; it throws and may
  * retry from the new current version (`CommitRaceSpec`).
  *
  * `vacuum` retains the last [[RetainSnapshots]] snapshots, so a reader
  * pinned to the previous version survives a concurrent commit + vacuum.
  */
object ManifestTable {

  private val ManifestDirName = "_manifests"

  /** One live data file plus optional per-column (min, max) pruning stats.
    * Stats cover INT64-backed columns only (longs; timestamps Spark writes
    * as INT64 micros) — the columns file skipping pays off on. A file with
    * no stats for a column is never skipped on that column (safe default),
    * which also makes pre-stats manifests (bare-path lines) readable
    * unchanged. Membership metadata (Bloom filters) deliberately does NOT
    * live in the manifest: filter bytes scale with ROW count, a manifest
    * must stay O(file count) to be readable in full by every planner —
    * see [[writeFiles]] for the sidecar-file form.
    */
  case class FileEntry(path: String, stats: Map[String, (Long, Long)] = Map.empty)

  // manifest line: path[<TAB>col=min..max[;col=min..max]...]
  private def renderEntry(e: FileEntry): String =
    if (e.stats.isEmpty) e.path
    else e.path + "\t" + e.stats.toSeq.sortBy(_._1)
      .map { case (c, (lo, hi)) => s"$c=$lo..$hi" }.mkString(";")

  private def parseEntry(line: String): FileEntry =
    line.split('\t') match {
      case Array(p) => FileEntry(p)
      case parts =>
        // stats are the first tab field; any later field (e.g. the retired
        // inline-bloom experiment's bloom64: tag) is ignored, not an error
        val stats = parts(1).split(';').iterator.filter(_.contains("=")).map { kv =>
          val Array(c, range) = kv.split("=", 2)
          val Array(lo, hi) = range.split("\\.\\.", 2)
          c -> (lo.toLong, hi.toLong)
        }.toMap
        FileEntry(parts(0), stats)
    }

  /** Bloom sidecar of data file `relFile`: `_blooms/<relFile>.bloom`.
    * Membership skipping for point-lookup workloads where min/max stats
    * cannot prune (uniform hashes: the CorpusStore's text_md5 / band_val
    * probes). Kept OUT of the manifest because filter bytes scale with row
    * count — sidecars are read lazily, only for the files a scan already
    * shortlisted, while the manifest stays O(file count). A data file is
    * immutable once written, so its sidecar is immutable too (rewrites
    * produce new file names), which is what makes [[readBloom]]'s cache
    * safe with no invalidation protocol.
    */
  private def bloomPath(root: String, relFile: String): Path =
    new Path(s"$root/_blooms/$relFile.bloom")

  /** One set of rows for [[writeFiles]]: `columns` of `rows` are the
    * files' data columns, in order (their types are the written schema);
    * `dir`, over any column of `rows`, places each row's file (a
    * `data/`-relative directory such as `p_kind=doc/p_b=3` — see
    * [[partitionDir]] — or "" for `data/` itself), and rows with equal
    * (`dir`, `split`) share one file. `bloomKey` names the data column each
    * file's Bloom sidecar indexes; `statCols` the INT64 data columns (longs,
    * timestamps) whose per-file min/max the returned [[FileEntry]] carries.
    */
  case class WriteSet(rows: DataFrame, columns: Seq[String], dir: Column,
                      split: Column, bloomKey: Option[String],
                      statCols: Seq[String] = Seq.empty)

  /** The directory `df.write.partitionBy(cols)` would put a row in
    * (`c1=v1/c2=v2`, values escaped, nulls in the default partition) — the
    * [[WriteSet]] `dir` of a partitioned table; `cols` stay out of its
    * `columns`, as a partitioned write keeps them out of the files.
    */
  def partitionDir(cols: Seq[String]): Column = {
    val path = udf((c: String, v: String) =>
      ExternalCatalogUtils.getPartitionPathString(c, v))
    concat_ws("/", cols.map(c => path(lit(c), col(c).cast("string"))): _*)
  }

  /** Write `sets` straight into `data/` as ONE Spark job and return every
    * written file as (entry, rows): its path relative to `data/` and the
    * min/max of the non-null values it holds in each of its set's
    * `statCols` (a column with none gets no stats). Rows shuffle to their
    * (set, dir, split) group and sort by it; each task streams every group
    * it holds into one uniquely named `part-<uuid>` file through Spark's
    * own parquet `OutputWriterFactory` (the encoding and footer metadata of
    * a `df.write`, timestamps always as INT64 micros), tracking the stats as
    * it goes, and writes the file's Bloom sidecar in the same task, sized
    * from the exact row count it just wrote (fpp 0.01). A group's keys are
    * buffered up to [[BloomBufferedKeys]]; a larger group (a
    * compaction-sized file) builds its filter from a task-local read-back
    * of the closed file's key column instead ([[readBackKeys]]). No
    * staging, no rename, no footer pass and no sidecar job: the files are
    * invisible until a commit lists them. A failed task attempt deletes the
    * files it wrote; files of a job that fails as a whole, or of a writer
    * whose commit never happens, are crash orphans the deep [[vacuum]]
    * reclaims. The job runs inside one SQL execution per set, so an
    * [[org.apache.spark.sql.Observation]] on a set's rows completes (a raw
    * RDD job would never report it). Each set's plan should be
    * exchange-free (a cut or a scan) for the write to stay one job.
    */
  def writeFiles(spark: SparkSession, root: String,
                 sets: Seq[WriteSet]): Seq[(FileEntry, Long)] = {
    if (sets.isEmpty) return Seq.empty
    val (dataBase, bloomBase) = writeBases(spark, root)
    // each set projected to (data columns…, dir, split)
    val projected = sets.map(s => s.rows.select(s.columns.map(col) ++
      Seq(s.dir.cast("string"), s.split.cast("int")): _*))
    val schemas = projected.zip(sets).map { case (p, s) =>
      StructType(p.schema.fields.take(s.columns.length))
    }.toArray
    val keyCols = sets.zip(schemas)
      .map { case (s, sch) => s.bloomKey.map(sch.fieldIndex).getOrElse(-1) }
    val statIdx = sets.zip(schemas).map { case (s, sch) =>
      s.statCols.map { c =>
        require(Seq(LongType, TimestampType, TimestampNTZType)
          .contains(sch(c).dataType), s"stat column $c is not INT64: ${sch(c)}")
        sch.fieldIndex(c)
      }.toArray
    }.toArray
    val format = new ParquetFileFormat()
    val job = org.apache.hadoop.mapreduce.Job.getInstance(format.getHadoopConf(spark))
    val factory = format.prepareWrite(spark, job, Map.empty, schemas.head)
    // INT64 micros whatever the session default (INT96, parquet-deprecated)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    val conf = new org.apache.spark.util.SerializableConfiguration(job.getConfiguration)
    def run(): Seq[(FileEntry, Long)] = spark.sparkContext.union(
      projected.zipWithIndex.map { case (p, i) =>
        val n = schemas(i).length
        p.queryExecution.toRdd.mapPartitions { it =>
          // the parquet writer writes every field of the row it is handed
          val data = UnsafeProjection.create(schemas(i).fields.toSeq.zipWithIndex
            .map { case (f, j) => BoundReference(j, f.dataType, f.nullable) })
          it.map(r => ((i, r.getUTF8String(n).toString, r.getInt(n + 1)),
            data(r).copy()))
        }
      }).repartitionAndSortWithinPartitions(
        new org.apache.spark.HashPartitioner(spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        val tc = org.apache.spark.TaskContext.get()
        val fs = new Path(dataBase).getFileSystem(conf.value)
        val done = ListBuffer.empty[(FileEntry, Long)]
        var open: String = null // the file being written
        tc.addTaskFailureListener { (_, _) =>
          dropFiles(fs, dataBase, bloomBase, (done.map(_._1.path) ++ Option(open)).toSeq)
        }
        // one task-attempt context per set: the set's schema rides its conf
        val ctx = schemas.indices.map { i =>
          val c = new org.apache.hadoop.conf.Configuration(conf.value)
          ParquetWriteSupport.setSchema(schemas(i), c)
          new TaskAttemptContextImpl(c, new TaskAttemptID(new TaskID(
            new JobID("graft", tc.stageId()), TaskType.MAP, tc.partitionId()),
            tc.attemptNumber()))
        }
        var set = -1
        var w: org.apache.spark.sql.execution.datasources.OutputWriter = null
        var n = 0L
        var keys = ListBuffer.empty[Array[Byte]] // null past BloomBufferedKeys
        var lo, hi = Array.empty[Long] // per stat column; lo > hi: no value
        def finish(): Unit = if (w != null) {
          w.close()
          if (keyCols(set) >= 0) {
            val bf = BloomFilter.create(math.max(n, 16L), 0.01)
            if (keys != null) keys.foreach(bf.putBinary)
            else readBackKeys(conf.value, new Path(s"$dataBase/$open"),
              schemas(set)(keyCols(set)).name)(bf.putBinary)
            val out = fs.create(new Path(s"$bloomBase/$open.bloom"), true)
            try bf.writeTo(out) finally out.close()
          }
          val stats = statIdx(set).indices.collect { case j if lo(j) <= hi(j) =>
            schemas(set)(statIdx(set)(j)).name -> (lo(j), hi(j))
          }.toMap
          done += FileEntry(open, stats) -> n
          open = null
          w = null
        }
        var cur: (Int, String, Int) = null
        it.foreach { case (k, r) =>
          if (k != cur) {
            finish()
            cur = k
            set = k._1
            val name = s"part-${UUID.randomUUID()}${factory.getFileExtension(ctx(set))}"
            open = if (k._2.isEmpty) name else s"${k._2}/$name"
            w = factory.newInstance(s"$dataBase/$open", schemas(set), ctx(set))
            n = 0L
            keys = ListBuffer.empty
            lo = Array.fill(statIdx(set).length)(Long.MaxValue)
            hi = Array.fill(statIdx(set).length)(Long.MinValue)
          }
          w.write(r)
          n += 1
          val kc = keyCols(set)
          if (kc >= 0 && keys != null && !r.isNullAt(kc)) {
            // the bytes [[readBackKeys]] yields: a string's UTF-8, a
            // binary's raw bytes, else its text
            keys += (schemas(set)(kc).dataType match {
              case StringType => r.getUTF8String(kc).getBytes
              case BinaryType => r.getBinary(kc)
              case dt => r.get(kc, dt).toString.getBytes(StandardCharsets.UTF_8)
            })
            if (keys.size > BloomBufferedKeys) keys = null
          }
          var j = 0
          while (j < lo.length) {
            val c = statIdx(set)(j)
            if (!r.isNullAt(c)) {
              val v = r.getLong(c) // longs and timestamps (micros) alike
              if (v < lo(j)) lo(j) = v
              if (v > hi(j)) hi(j) = v
            }
            j += 1
          }
        }
        finish()
        done.iterator
      }
      .collect().toSeq
    // an Observation completes only on a SQL execution's end event
    projected.foldLeft(() => run()) { (body, p) =>
      () => SQLExecution.withNewExecutionId(p.queryExecution, Some("writeFiles"))(body())
    }()
  }

  /** Keys a writer task buffers per file for its Bloom sidecar; a file
    * with more rows re-reads its key column instead ([[readBackKeys]]).
    */
  private val BloomBufferedKeys = 1 << 18

  private def writeBases(spark: SparkSession, root: String): (String, String) = {
    val fs = fsOf(spark, root)
    (fs.makeQualified(new Path(dataDir(root))).toString,
      fs.makeQualified(new Path(s"$root/_blooms")).toString)
  }

  private def dropFiles(fs: FileSystem, dataBase: String, bloomBase: String,
                        rels: Seq[String]): Unit =
    rels.foreach { rel =>
      try {
        fs.delete(new Path(s"$dataBase/$rel"), false)
        fs.delete(new Path(s"$bloomBase/$rel.bloom"), false)
      } catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Delete [[writeFiles]] output no commit will list (a lost commit race)
    * with its sidecars — best effort; the deep [[vacuum]] is the backstop.
    */
  def deleteWritten(spark: SparkSession, root: String,
                    rels: Seq[String]): Unit = {
    val (dataBase, bloomBase) = writeBases(spark, root)
    dropFiles(fsOf(spark, root), dataBase, bloomBase, rels)
  }

  /** Feed `f` the bytes of every non-null `key` value of parquet file
    * `path` (a string or binary column's raw bytes, any other type's
    * decimal text — the `cast("string")` form), reading that one column
    * only — the sidecar's key stream for a file too large to buffer its
    * keys while writing.
    */
  private[graft] def readBackKeys(conf: org.apache.hadoop.conf.Configuration,
                                  path: Path, key: String)
                                 (f: Array[Byte] => Unit): Unit = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val file = r.getFooter.getFileMetaData.getSchema
      val field = file.getType(file.getFieldIndex(key))
      val proj = new MessageType(file.getName, field)
      val isBinary = field.asPrimitiveType.getPrimitiveTypeName ==
        PrimitiveType.PrimitiveTypeName.BINARY
      r.setRequestedSchema(proj)
      var pages = r.readNextRowGroup()
      while (pages != null) {
        val records = new ColumnIOFactory().getColumnIO(proj)
          .getRecordReader(pages, new GroupRecordConverter(proj))
        var i = 0L
        while (i < pages.getRowCount) {
          val g = records.read()
          if (g.getFieldRepetitionCount(0) > 0)
            f(if (isBinary) g.getBinary(0, 0).getBytes
              else g.getValueToString(0, 0).getBytes(StandardCharsets.UTF_8))
          i += 1
        }
        pages = r.readNextRowGroup()
      }
    } finally r.close()
  }

  /** Driver-side sidecar LRU keyed by `root/relFile`, bounded by DECODED
    * BYTES, not entry count — a compacted file's filter is MBs (fpp 0.01 ≈
    * 1.2 bytes/row), so an entry-count bound would let the "bounded" cache
    * grow to GBs of driver heap. Entries are immutable (see [[bloomPath]])
    * so there is no invalidation. Negative results are cached ONLY on a
    * verified missing sidecar (a live file either had its sidecar before
    * its commit or never will); a transient read error is NOT cached —
    * pinning "no filter" for the driver's lifetime off one throttled open
    * would silently disable pruning for that file forever.
    */
  private val BloomCacheMaxBytes = 256L << 20
  private var bloomCacheBytes = 0L
  private val bloomCache =
    new java.util.LinkedHashMap[String, Option[BloomFilter]](64, 0.75f, true)
  private def bloomWeight(v: Option[BloomFilter]): Long =
    v.map(_.bitSize() / 8 + 64L).getOrElse(64L)

  /** The Bloom sidecar of `relFile`, if one exists and decodes. `None`
    * (missing or unreadable — e.g. a torn write) means the caller must
    * KEEP the file: skipping is only ever justified by a negative probe of
    * a healthy filter.
    */
  def readBloom(spark: SparkSession, root: String,
                relFile: String): Option[BloomFilter] = {
    val key = s"$root/$relFile"
    val cached = bloomCache.synchronized(Option(bloomCache.get(key)))
    cached.getOrElse {
      // IO phase: a failure here (throttled open, torn connection, listing
      // hiccup) is TRANSIENT — keep the file and cache NOTHING, so the next
      // probe retries instead of inheriting the error for the driver's
      // lifetime. `Right(None)` is a verified-missing sidecar (cacheable: a
      // live file either had its sidecar before its commit or never will).
      val io: Either[Unit, Option[Array[Byte]]] =
        try {
          val p = bloomPath(root, relFile)
          val fs = fsOf(spark, root)
          if (!fs.exists(p)) Right(None)
          else {
            val in = fs.open(p)
            try {
              val buf = new java.io.ByteArrayOutputStream(64 << 10)
              val chunk = new Array[Byte](64 << 10)
              var n = in.read(chunk)
              while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
              Right(Some(buf.toByteArray))
            } finally in.close()
          }
        } catch { case scala.util.control.NonFatal(_) => Left(()) }
      io match {
        case Left(_) => None
        case Right(bytes) =>
          // decode phase: the sidecar was already read IN FULL, so a decode
          // failure is a corrupt (torn-write) file — PERMANENT, sidecars
          // being immutable — and is negative-cached like a verified miss;
          // re-reading the same bytes on every probe can never succeed and
          // would re-pay the IO forever.
          val loaded = bytes.flatMap { bs =>
            try Some(BloomFilter.readFrom(
              new java.io.ByteArrayInputStream(bs)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
          bloomCache.synchronized {
            if (bloomCache.get(key) == null) {
              bloomCache.put(key, loaded)
              bloomCacheBytes += bloomWeight(loaded)
              val it = bloomCache.entrySet().iterator()
              while (bloomCacheBytes > BloomCacheMaxBytes && it.hasNext) {
                bloomCacheBytes -= bloomWeight(it.next().getValue)
                it.remove()
              }
            }
          }
          loaded
      }
    }
  }

  /** [[readBloom]] over many files, loading COLD sidecars from a bounded
    * thread pool — at production counts (thousands of files per touched
    * bucket) a cold tick's serial probe loop pays one filesystem round-trip
    * per file on the driver. Warm entries are served from the cache and never touch
    * the pool; per-file semantics (including what is and isn't cached) are
    * exactly [[readBloom]]'s, which is thread-safe.
    */
  def readBlooms(spark: SparkSession, root: String, relFiles: Seq[String])
      : Map[String, Option[BloomFilter]] = {
    val cold = relFiles.filter(f =>
      bloomCache.synchronized(bloomCache.get(s"$root/$f") == null))
    if (cold.size > 1) {
      import scala.jdk.CollectionConverters._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(cold.size, 16))
      try pool.invokeAll(cold.map { f =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = { readBloom(spark, root, f); () }
        }
      }.asJava).asScala.foreach(_.get())
      finally pool.shutdown()
    }
    relFiles.map(f => f -> readBloom(spark, root, f)).toMap
  }

  def dataDir(root: String): String = s"$root/data"

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, version: Long): Path =
    new Path(s"$root/$ManifestDirName/v${"%020d".format(version)}.manifest")

  /** Latest committed version, if any manifest exists. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    versions(spark, root).lastOption

  /** All committed versions, ascending. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val fs = fsOf(spark, root)
    val dir = new Path(s"$root/$ManifestDirName")
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toLong
      }.sorted
  }

  /** `v{N}` version-directory children of `dir` — the versioned-sidecar
    * layout every model store shares ([[CentroidStore]] model versions,
    * [[QuantStore]] `_bounds`, [[CorpusStore]] `_models`) —
    * ascending by N. One parser, so the stores cannot drift.
    */
  private[operators] def versionDirs(fs: FileSystem, dir: Path): Seq[(Long, Path)] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .collect { case st if { val n = st.getPath.getName
          n.startsWith("v") && n.length > 1 && n.drop(1).forall(_.isDigit) } =>
        (st.getPath.getName.drop(1).toLong, st.getPath)
      }.sortBy(_._1)

  /** Delete every `v{N}` child of `dir` whose N is not in `keep` — the
    * shared retention pass for sidecars versioned with a snapshot.
    */
  private[operators] def pruneVersionDirs(fs: FileSystem, dir: Path,
                                          keep: Set[Long]): Unit =
    versionDirs(fs, dir).foreach { case (v, p) =>
      if (!keep.contains(v)) fs.delete(p, true)
    }

  // `#`-prefixed header lines (the commit token, see [[commitEntries]]) are
  // metadata, not file entries; `allLinesOf` keeps them for the readers that
  // want the token, `rawLinesOf` is the entry-only view every other caller
  // (including the kept-lines carry-forward in a commit) uses.
  private def allLinesOf(spark: SparkSession, root: String, version: Long): Seq[String] = {
    val fs = fsOf(spark, root)
    val in = fs.open(manifestPath(root, version))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().map(_.trim).filter(_.nonEmpty).toList
    } finally in.close()
  }

  private def rawLinesOf(spark: SparkSession, root: String, version: Long): Seq[String] =
    allLinesOf(spark, root, version).filterNot(_.startsWith("#"))

  private val TokenPrefix = "#token="
  private val MetaPrefix = "#meta:"

  /** Per-commit key=value metadata recorded INSIDE `version`'s manifest
    * file (`#meta:` header lines, written by the commit that created the
    * version). Because the lines ride the manifest bytes through the same
    * conditional [[commitPublisher]] install, the metadata is ATOMIC with
    * the snapshot — the mechanism version-paired state (e.g. [[IvfStore]]'s
    * model↔postings ref) uses so no separately-written sidecar can be
    * clobbered by a racing committer. Commits that wrote no meta (and
    * pre-meta manifests) yield an empty map.
    */
  def commitMeta(spark: SparkSession, root: String,
                 version: Long): Map[String, String] =
    allLinesOf(spark, root, version)
      .filter(_.startsWith(MetaPrefix))
      .map { l =>
        val kv = l.substring(MetaPrefix.length)
        val i = kv.indexOf('=')
        require(i > 0, s"malformed manifest meta line: $l")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap

  /** The commit token of `version`'s manifest header, by reading ONLY the
    * first line — the cheap identity probe [[entriesOf]] validates its
    * cache with (one small ranged read, not a full manifest parse).
    * Pre-token manifests (or a non-token first line) yield None.
    */
  private def headerToken(spark: SparkSession, root: String, version: Long): Option[String] = {
    val fs = fsOf(spark, root)
    val in = fs.open(manifestPath(root, version))
    try {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, StandardCharsets.UTF_8), 256)
      Option(r.readLine()).map(_.trim).filter(_.startsWith(TokenPrefix))
    } finally in.close()
  }

  /** Data files of snapshot `version`, as paths relative to `data/`. */
  def filesOf(spark: SparkSession, root: String, version: Long): Seq[String] =
    entriesOf(spark, root, version).map(_.path)

  /** Driver-side parsed-manifest LRU keyed by `root@version`. A committed
    * manifest is immutable (versions only ever grow; vacuum deletes old
    * versions but never rewrites one), so the bound only caps memory. One
    * tick reads the same snapshot's listing for each of its kind prunes;
    * this makes that one parse, not five. Hits are validated by the
    * manifest's COMMIT TOKEN (a per-commit UUID header, see
    * [[commitEntries]]) via a first-line read — one small RPC instead of a
    * full read+parse — so a store deleted and re-created at the same path
    * (which legitimately restarts version numbers) can never be served the
    * old root's listing. A manifest without a token (hand-written; every
    * commit writes one) is parsed on every read, never cached.
    */
  private val EntryCacheMax = 8
  private case class CachedEntries(token: String, entries: Seq[FileEntry])
  private val entryCache =
    new java.util.LinkedHashMap[String, CachedEntries](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CachedEntries]): Boolean =
        size() > EntryCacheMax
    }

  /** Data files of snapshot `version` with their pruning stats. */
  def entriesOf(spark: SparkSession, root: String, version: Long): Seq[FileEntry] = {
    val key = s"$root@$version"
    // the token is unique per commit, so a match proves this is
    // byte-for-byte the manifest that was parsed (a validation failure of
    // any kind just falls through to a re-read)
    val cached = entryCache.synchronized(Option(entryCache.get(key)))
      .filter { c =>
        try headerToken(spark, root, version).contains(c.token)
        catch { case scala.util.control.NonFatal(_) => false }
      }
    cached.map(_.entries).getOrElse {
      val lines = allLinesOf(spark, root, version)
      val parsed = lines.filterNot(_.startsWith("#")).map(parseEntry)
      lines.headOption.filter(_.startsWith(TokenPrefix)).foreach { t =>
        entryCache.synchronized(entryCache.put(key, CachedEntries(t, parsed)))
      }
      parsed
    }
  }

  /** Live entries (path + stats) of the latest snapshot. */
  def liveEntries(spark: SparkSession, root: String): Seq[FileEntry] =
    currentVersion(spark, root) match {
      case None    => Seq.empty
      case Some(v) => entriesOf(spark, root, v)
    }

  /** Live data files of the latest snapshot, as paths relative to `data/`
    * (e.g. `p_date=2024-01-01/part-00000-<uuid>.parquet`).
    */
  def liveFiles(spark: SparkSession, root: String): Seq[String] =
    currentVersion(spark, root) match {
      case None    => Seq.empty
      case Some(v) => filesOf(spark, root, v)
    }

  // ---- read side: every table turns manifest paths into a frame here ----

  /** THE explicit-file read of every manifest table: `files` (paths
    * relative to `data/`, usually one resolved version's files or a pruned
    * subset) scanned under `data/` with `basePath`, so `c=v` directories
    * parse into partition columns and no directory is listed.
    *
    * `schema` is the table's static schema, partition columns included (a
    * store kind's columns plus `p_kind`/`p_b`). Without one, Spark infers
    * the schema from file footers — a `mergeSchemasInParallel` job per read
    * call (thread dumps of the first sf0.1 store build showed the driver
    * parked in `ParquetFileFormat.inferSchema` across a tick's reads). With
    * one, building the frame runs no job, its columns are the schema's in
    * its order whichever writer path laid a file out, and an empty `files`
    * reads as a typed empty frame. A table without one (sync sinks, IVF
    * postings) reads an empty `files` as a `limit(0)` scan over a donor,
    * the first of `pinned`: the caller's resolved version's files, never a
    * fresh listing, whose donor a concurrent commit and vacuum could delete
    * before the scan. `tags` ride as relation options
    * ([[graft.plans.StorePruneRule]] finds a store scan by them).
    */
  def readFiles(spark: SparkSession, root: String, files: Seq[String],
                schema: Option[StructType] = None,
                pinned: Seq[String] = Seq.empty,
                tags: Map[String, String] = Map.empty): DataFrame = {
    if (files.isEmpty && schema.nonEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema.get)
    val scanned = if (files.nonEmpty) files else pinned.take(1)
    require(scanned.nonEmpty, s"no data files to read at $root")
    val dd = dataDir(root)
    val df = schema.foldLeft(spark.read)(_.schema(_))
      .option("basePath", dd).options(tags)
      .parquet(scanned.map(f => s"$dd/$f"): _*)
    schema match {
      case Some(s) => df.select(s.fieldNames.map(col).toIndexedSeq: _*)
      case None => if (files.isEmpty) df.limit(0) else df
    }
  }

  /** The manifest path (relative to `data/`) of one of the table's data
    * files, given as the absolute URI Spark reports for it
    * (`input_file_name()`, a relation's `inputFiles`) — the inverse of
    * [[readFiles]]'s path mapping. Throws for a file outside `data/`.
    */
  def manifestPathOf(spark: SparkSession, root: String, abs: String): String = {
    val base = fsOf(spark, root).makeQualified(new Path(dataDir(root)))
      .toUri.getPath.stripSuffix("/") + "/"
    val path = new java.net.URI(abs).getPath
    require(path.startsWith(base), s"$abs is not a data file of $root")
    path.substring(base.length)
  }

  /** Read the latest snapshot. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val v = currentVersion(spark, root)
    require(v.nonEmpty, s"no committed snapshot at $root")
    readAt(spark, root, v.get)
  }

  /** Read a PINNED snapshot version — the form consumers use when a model
    * sidecar must pair with exactly this version's data (see `QuantStore`).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame = {
    val files = filesOf(spark, root, version)
    require(files.nonEmpty, s"no committed snapshot v$version at $root")
    readFiles(spark, root, files)
  }

  /** Entries whose stats CANNOT rule out rows with `statCol` in [lo, hi] —
    * manifest-level file skipping, the same min/max pruning Delta/Iceberg
    * do from their manifests. A file without stats for the column is kept
    * (skipping must be provably safe). Pure metadata: no file is opened.
    */
  def pruneEntries(entries: Seq[FileEntry], statCol: String,
                   lo: Long, hi: Long): Seq[FileEntry] =
    entries.filter(_.stats.get(statCol).forall { case (mn, mx) => mx >= lo && mn <= hi })

  /** Read the latest snapshot restricted to files that can hold `statCol`
    * values in [lo, hi] (closed interval, in the column's INT64 physical
    * units — epoch-µs for Spark-written timestamps). The caller still
    * applies the row-level predicate; this only shrinks the file list the
    * scan plans over — at 100 TB the difference between touching a day and
    * touching the whole table. Falls back to the full listing semantics
    * when no file carries stats; with every file pruned, the frame is
    * empty and typed by a donor file of the same snapshot.
    */
  def readWhere(spark: SparkSession, root: String, statCol: String,
                lo: Long, hi: Long): DataFrame = {
    val entries = liveEntries(spark, root)
    require(entries.nonEmpty, s"no committed snapshot at $root")
    readFiles(spark, root, pruneEntries(entries, statCol, lo, hi).map(_.path),
      pinned = entries.map(_.path))
  }

  /** Atomically commit the next snapshot = previous live files minus
    * those under `replacedPartitions` (directory prefixes like
    * `p_date=2024-01-01`; an empty prefix replaces everything), plus
    * `addedFiles`. Returns the committed version.
    */
  def commitReplace(spark: SparkSession, root: String,
                    replacedPartitions: Seq[String],
                    addedFiles: Seq[String],
                    expectedVersion: Option[Long] = None,
                    meta: Map[String, String] = Map.empty): Long =
    commitEntries(spark, root, replacedPartitions,
      addedFiles.map(FileEntry(_)), expectedVersion, meta)

  /** How a commit installs its written temp manifest as the version-numbered
    * target — the format's single LogStore-style seam (the role Delta's
    * LogStore plays for `_delta_log`). Contract: atomically make `target`
    * exist with `tmp`'s bytes, THROWING — never silently replacing — if
    * `target` already exists, so a racing committer of the same version
    * loses loudly instead of losing a manifest. The default dispatches on
    * the filesystem:
    *   - local paths: a POSIX hard link (atomic, fails with EEXIST) then
    *     unlink of the temp — this CLOSES the exists()+rename window
    *     entirely, because link(2) is create-exclusive at the kernel;
    *   - object-store schemes (s3/s3a/gs/abfs/…, where rename is a fake —
    *     a copy that silently replaces the target): the lease-lock
    *     publisher ([[leaseCommitPublish]] — the Delta-on-S3 LogStore
    *     role), selected by URI scheme;
    *   - everything else (HDFS and rename-atomic filesystems): exists() +
    *     rename, which HDFS makes conditional (rename onto an existing
    *     file returns false).
    */
  @volatile var commitPublisher: (FileSystem, Path, Path) => Unit =
    defaultCommitPublish

  /** URI schemes whose `rename` is copy-based and NOT conditional on the
    * target (and whose `create` ignores overwrite flags) — the filesystems
    * that need the lease publisher. Extendable per-deployment via the
    * hadoop conf key `graft.commit.nonatomic.schemes` (comma-separated) —
    * which is also how the race spec routes its simulated object-store FS
    * here.
    */
  private val NonAtomicRenameSchemes = Set(
    "s3", "s3a", "s3n", "gs", "oss", "swift", "wasb", "wasbs", "abfs",
    "abfss", "cosn")

  private def isNonAtomicRenameFs(fs: FileSystem): Boolean = {
    val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme))
      .map(_.toLowerCase).getOrElse("")
    NonAtomicRenameSchemes.contains(scheme) ||
      fs.getConf.get("graft.commit.nonatomic.schemes", "")
        .split(",").map(_.trim.toLowerCase).contains(scheme)
  }

  /** Whether this filesystem's `create(path, overwrite = false)` is a TRUE
    * conditional write — one atomic create-if-absent arbitrated AT THE
    * STORE (S3 If-None-Match through a conditional-write-enabled
    * connector, GCS generation-0 preconditions, ABFS ETag creates), not a
    * client-side exists()+create. Declared per deployment via the hadoop
    * conf key `graft.commit.conditional.schemes` (comma-separated): the
    * operator's assertion that the connector is configured for conditional
    * creates. A declared scheme takes the [[putIfAbsentCommitPublish]]
    * path even when it is also listed rename-non-atomic — conditional
    * create is strictly stronger than the lease protocol (no settle
    * window, no committer-clock assumption), so it wins the dispatch.
    */
  private def isConditionalCreateFs(fs: FileSystem): Boolean = {
    val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme))
      .map(_.toLowerCase).getOrElse("")
    fs.getConf.get("graft.commit.conditional.schemes", "")
      .split(",").map(_.trim.toLowerCase).contains(scheme)
  }

  /** The conditional-PUT manifest install — the [[leaseCommitPublish]]
    * scaladoc's endgame, for stores with native write preconditions: ONE
    * create-exclusive PUT of the manifest bytes, arbitrated by the store
    * itself. Of two racing committers of the same version exactly one
    * create succeeds and the other throws [[CommitConflictException]] —
    * no lock object, no settle window, and NO clock assumption (the lease
    * protocol's residual caveats). A read-back verifies the committed
    * bytes are ours, turning any connector that silently last-writer-wins
    * despite the declared precondition into a loud conflict rather than a
    * lost manifest.
    */
  private[graft] def putIfAbsentCommitPublish(fs: FileSystem, tmp: Path,
                                              target: Path): Unit = {
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    val bytes = readAllBytes(fs, tmp)
    // An IOException whose message merely CONTAINS "exist" is AMBIGUOUS —
    // "does not exist" / "no such file exists" match too, and a transport
    // error after the object actually materialized would have classified a
    // COMMITTED manifest as a conflict (whose handler then deletes this
    // attempt's data files — a committed manifest referencing deleted
    // files). Probe the target instead of guessing: absent → the failure
    // was something else entirely, rethrow it verbatim; present with our
    // bytes → the PUT materialized before the error surfaced, success;
    // present with foreign bytes → a real conflict. Returns true iff our
    // bytes are committed.
    def resolveAmbiguous(e: java.io.IOException): Boolean = {
      val exists =
        try fs.exists(target)
        catch { case scala.util.control.NonFatal(_) => throw e }
      if (!exists) throw e
      if (java.util.Arrays.equals(readAllBytes(fs, target), bytes)) true
      else conflict()
    }
    val out =
      try fs.create(target, false)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => conflict()
        case _: java.nio.file.FileAlreadyExistsException => conflict()
        case e: java.io.IOException
          if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
          resolveAmbiguous(e) // our bytes already committed (crashed retry)
          fs.delete(tmp, false)
          return
      }
    // object PUTs materialize at close — a precondition failure may surface
    // there instead of at create
    try { try out.write(bytes) finally out.close() }
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => conflict()
      case _: java.nio.file.FileAlreadyExistsException => conflict()
      case e: java.io.IOException
        if Option(e.getMessage).exists(_.toLowerCase.contains("exist")) =>
        resolveAmbiguous(e) // our bytes committed → fall through as success
    }
    if (!java.util.Arrays.equals(readAllBytes(fs, target), bytes))
      conflict() // the "conditional" create was not: bytes lost an overwrite
    fs.delete(tmp, false)
  }

  private[graft] def defaultCommitPublish(fs: FileSystem, tmp: Path,
                                          target: Path): Unit = {
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    fs match {
      // a declared conditional-create scheme wins outright: the store's
      // own precondition is strictly stronger than both the lease protocol
      // and any rename path
      case _ if isConditionalCreateFs(fs) =>
        putIfAbsentCommitPublish(fs, tmp, target)
      // the EXPLICIT non-atomic dispatch must win over the local/rename
      // arms: an object-store-like FS can subclass a local one (exactly how
      // the race harness simulates S3 semantics), and the scheme
      // declaration is the operator's intent
      case _ if isNonAtomicRenameFs(fs) =>
        leaseCommitPublish(fs, tmp, target)
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val src = java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath)
        val dst = java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath)
        try java.nio.file.Files.createLink(dst, src)
        catch { case _: java.nio.file.FileAlreadyExistsException => conflict() }
        // the link IS the commit point; temp cleanup is best-effort
        // (fs.delete also drops LocalFileSystem's .crc sidecar of the temp)
        fs.delete(tmp, false)
      case _ =>
        if (fs.exists(target)) conflict()
        if (!fs.rename(tmp, target)) conflict()
    }
  }

  /** The OBJECT-STORE conditional install: a lease-lock protocol over
    * nothing but last-writer-wins PUT + strongly-consistent read (what
    * S3/GCS/ABFS provide today) — the role Delta's S3 LogStore plays for
    * `_delta_log`, without the external coordination table.
    *
    * Protocol, per target version (locks of different versions never
    * contend):
    *   1. CLAIM `target.lock` by overwriting it with a unique owner token
    *      + wall-clock stamp, wait one settle window, read back: the
    *      claimant that survives the last-writer-wins overwrite owns the
    *      lease; the other reads a foreign token and loops.
    *   2. Under the lease: re-check the target is absent (a finished
    *      committer → loud [[CommitConflictException]]), RE-VERIFY the
    *      lease right before the PUT, write the manifest, and read it back
    *      — a foreign read-back means the bytes lost an overwrite race and
    *      the commit conflicts rather than silently succeeding.
    *   3. Release the lock (only if still owned); a crashed holder's lock
    *      EXPIRES after `graft.commit.lease.ms` (default 60 s) and is
    *      broken by the next claimant.
    *
    * Honest limits: without a conditional PUT there is no true CAS — the
    * residual window is two claimants interleaving within one settle
    * window AND passing all three re-checks within the same microseconds.
    * The layered checks shrink the round-12 "every commit races" window to
    * that sliver; a store offering conditional writes (S3 If-None-Match,
    * GCS preconditions) should plug a putIfAbsent [[commitPublisher]]
    * instead and get the real thing. Lease expiry assumes committer clocks
    * agree to within the lease duration (the standard lease caveat).
    *
    * Assumed store semantics (true of S3/GCS/ABFS, asserted by the race
    * harness): PUTs are ATOMIC-AT-CLOSE — an object is either absent or
    * fully present, never partially visible (a reader of the committed
    * manifest must see all its lines; a partial read would silently shrink
    * the next commit's kept set), and reads are strongly consistent.
    *
    * Tuning (hadoop conf): `graft.commit.lease.ms` (expiry, 60000),
    * `graft.commit.lease.settle.ms` (claim settle window, 100),
    * `graft.commit.lease.timeout.ms` (acquire budget, 600000).
    */
  private[graft] def leaseCommitPublish(fs: FileSystem, tmp: Path,
                                        target: Path): Unit = {
    val conf = fs.getConf
    val leaseMs = conf.getLong("graft.commit.lease.ms", 60000L)
    val settleMs = conf.getLong("graft.commit.lease.settle.ms", 100L)
    val timeoutMs = conf.getLong("graft.commit.lease.timeout.ms", 600000L)
    val me = UUID.randomUUID().toString
    val lock = new Path(target.getParent, target.getName + ".lock")
    val bytes = readAllBytes(fs, tmp)
    def conflict(): Nothing = throw new CommitConflictException(
      s"commit conflict: $target already exists (racing committer)")
    // a torn/unparsable read counts as absent: the settle-verify loop, not
    // the parse, is what arbitrates ownership
    def lockOwner(): Option[(String, Long)] =
      try {
        if (!fs.exists(lock)) None
        else {
          val txt = new String(readAllBytes(fs, lock), StandardCharsets.UTF_8)
          txt.split("\n") match {
            case Array(o, s) => Some((o.trim, s.trim.toLong))
            case _           => None
          }
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    def writeLock(): Unit = {
      val out = fs.create(lock, true) // PUT: last writer wins by design
      try out.write(s"$me\n${System.currentTimeMillis()}"
        .getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    var owned = false
    while (!owned) {
      if (fs.exists(target)) conflict()
      val now = System.currentTimeMillis()
      val blocked = lockOwner().exists { case (o, stamp) =>
        o != me && now - stamp <= leaseMs
      }
      if (!blocked) {
        writeLock()
        if (settleMs > 0) Thread.sleep(settleMs)
        owned = lockOwner().exists(_._1 == me)
      }
      if (!owned) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"commit lease at $lock not acquired within ${timeoutMs}ms — " +
              "holder crashed with a future clock, or the store is " +
              "overcommitted; raise graft.commit.lease.timeout.ms or " +
              "clear the lock once its writer is provably dead")
        Thread.sleep(math.max(settleMs, 10L))
      }
    }
    try {
      if (fs.exists(target)) conflict()
      // final ownership check narrows the claim race to the PUT itself
      if (!lockOwner().exists(_._1 == me)) conflict()
      val out = fs.create(target, true)
      try out.write(bytes) finally out.close()
      if (!java.util.Arrays.equals(readAllBytes(fs, target), bytes))
        conflict() // lost a same-version overwrite race after the PUT
      fs.delete(tmp, false)
    } finally {
      if (lockOwner().exists(_._1 == me)) fs.delete(lock, false)
    }
  }

  /** Full drain read (Hadoop streams may return partial reads). */
  private def readAllBytes(fs: FileSystem, f: Path): Array[Byte] = {
    val in = fs.open(f)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { bos.write(buf, 0, n); n = in.read(buf) }
      bos.toByteArray
    } finally in.close()
  }

  /** [[commitReplace]] with pruning stats attached to the added files (see
    * [[FileEntry]]); kept files carry their existing stats forward.
    *
    * Concurrency: the manifest install is conditional (see
    * [[commitPublisher]]) — of two committers that both read version N,
    * exactly one commits N+1 and the other THROWS, never silently
    * overwriting; the loser can re-read and retry (`CommitRaceSpec` pins
    * no-lost-update under concurrent retrying committers). Store-level
    * writers ([[CorpusStore]] ticks) still assume external serialization
    * for their vacuum housekeeping; this guard is what turns a
    * violated assumption into a loud failure instead of a lost manifest.
    */
  def commitEntries(spark: SparkSession, root: String,
                    replacedPartitions: Seq[String],
                    added: Seq[FileEntry],
                    expectedVersion: Option[Long] = None,
                    meta: Map[String, String] = Map.empty): Long =
    commitDropping(spark, root,
      f => replacedPartitions.exists(p => p.isEmpty || f.startsWith(p + "/")),
      added, expectedVersion, meta)

  /** Commit the next snapshot = previous live files minus EXACTLY the named
    * files, plus `added` — the file-level rewrite commit (a purge or
    * selective compaction replaces individual files, not partition
    * prefixes). Removing a file not in the live set is an error: the
    * caller planned its rewrite against a snapshot that has moved, and
    * committing would silently re-expose rows the caller thought it
    * replaced.
    */
  def commitRewriteFiles(spark: SparkSession, root: String,
                         removedFiles: Seq[String],
                         added: Seq[FileEntry],
                         expectedVersion: Option[Long] = None,
                         meta: Map[String, String] = Map.empty): Long = {
    val live = liveFiles(spark, root).toSet
    val missing = removedFiles.filterNot(live.contains)
    require(missing.isEmpty,
      s"rewrite commit removes files not in the live snapshot " +
        s"(planned against a moved store?): ${missing.take(5).mkString(",")}")
    val doomed = removedFiles.toSet
    commitDropping(spark, root, doomed.contains, added, expectedVersion, meta)
  }

  private def commitDropping(spark: SparkSession, root: String,
                             drop: String => Boolean,
                             added: Seq[FileEntry],
                             expectedVersion: Option[Long] = None,
                             meta: Map[String, String] = Map.empty): Long = {
    val fs = fsOf(spark, root)
    val prev = currentVersion(spark, root)
    // optimistic-transaction check (version 0 = empty store): a caller that
    // COMPUTED its commit against snapshot N must not build on a snapshot
    // that moved to N+1 meanwhile — without this, two overlapping ticks
    // both commit "successfully" but the later one's dedup never saw the
    // earlier one's keepers. Losing here is loud and cheap (nothing
    // written yet); the caller re-reads and recomputes.
    expectedVersion.foreach { e =>
      val cur = prev.getOrElse(0L)
      if (cur != e)
        throw new CommitConflictException(
          s"commit conflict at $root: planned against version $e but the " +
            s"store is at $cur (racing committer) — re-read and retry")
    }
    val kept = prev.map(rawLinesOf(spark, root, _)).getOrElse(Seq.empty)
      .filterNot(line => drop(parseEntry(line).path))
    val next = prev.getOrElse(0L) + 1
    val tmp = new Path(s"$root/$ManifestDirName/.tmp-${UUID.randomUUID()}")
    fs.mkdirs(tmp.getParent)
    val out = fs.create(tmp, false)
    // header lines: the commit token (this commit's identity: unique per
    // commit, never carried forward, what entriesOf validates its cache
    // against) then the caller's per-commit metadata. Both are `#` lines
    // that entry parsing skips and rawLinesOf never carries forward — meta
    // describes ONE commit, not the snapshot lineage.
    meta.foreach { case (k, v) =>
      require(k.nonEmpty && !k.contains('=') && !k.contains('\n'),
        s"commit meta key must be non-empty and '='/newline-free: '$k'")
      require(!v.contains('\n'), s"commit meta value for '$k' contains a newline")
    }
    val metaLines = meta.toSeq.sortBy(_._1).map { case (k, v) => s"$MetaPrefix$k=$v" }
    try out.write(((s"$TokenPrefix${UUID.randomUUID()}" +: metaLines
      ++: (kept ++ added.map(renderEntry)))
      .mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val target = manifestPath(root, next)
    try commitPublisher(fs, tmp, target)
    catch {
      case e: Throwable =>
        // a lost race must not leak its temp (vacuum never sweeps _manifests)
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    next
  }

  /** Snapshots every vacuum retains: the latest plus this many predecessors'
    * worth of history. 2 keeps the current AND previous snapshot alive, so a
    * reader that pinned version N before a writer committed N+1 (and
    * vacuumed) still finds every file its scan planned — the same reason
    * Delta/Iceberg retain old versions for a window instead of reclaiming
    * eagerly. Raise it (or vacuum less often) when readers can lag by more
    * than one commit.
    */
  val RetainSnapshots = 2

  /** Reclaim data files referenced by NO retained snapshot. Two tiers:
    *
    * Always (pure manifest arithmetic, NO directory listing): manifests
    * older than the retention window (see [[RetainSnapshots]]) are
    * expired, and every file they referenced that no retained snapshot
    * still references is deleted along with its Bloom sidecar. Cost is
    * O(expired + retained manifest entries) however many files live
    * under `data/` — what makes vacuum safe to run on EVERY commit of a
    * store with millions of files (a recursive listing per tick would be
    * the planning bottleneck the manifest exists to remove; on object
    * stores, a LIST storm).
    *
    * `deep = true` adds the recursive sweep that also reclaims CRASH
    * ORPHANS — files (and sidecars) written by a writer that died before
    * its commit, plus files whose cheap-tier delete failed transiently.
    * Orphans are invisible to every reader and bounded by failed attempts,
    * so the deep sweep is periodic maintenance (e.g.
    * [[CorpusStore.compact]] and [[Layout.compactTable]] time), not a
    * per-commit tax. It must not run concurrently with a writer: files
    * written but not yet committed look exactly like orphans. Returns data
    * files deleted.
    */
  def vacuum(spark: SparkSession, root: String,
             retainLast: Int = RetainSnapshots,
             deep: Boolean = true): Long = {
    require(retainLast >= 1, "must retain at least the current snapshot")
    val fs = fsOf(spark, root)
    val data = fs.makeQualified(new Path(dataDir(root)))
    if (!fs.exists(data)) return 0L
    val all = versions(spark, root)
    val (expired, retained) = all.splitAt((all.size - retainLast).max(0))
    val referenced = retained.flatMap(v => filesOf(spark, root, v)).toSet
    // expired manifests' files must be read BEFORE the manifests go
    val expiredRefs = expired.flatMap(v => filesOf(spark, root, v)).toSet
    expired.foreach(v => fs.delete(manifestPath(root, v), false))
    var removed = 0L
    // one exists() gates the per-file sidecar deletes: most ManifestTable
    // stores never write blooms, and paying a DELETE round-trip per
    // reclaimed file against a nonexistent _blooms tree doubles the
    // request count of a large vacuum for nothing
    val hasBlooms = fs.exists(new Path(s"$root/_blooms"))
    (expiredRefs -- referenced).foreach { rel =>
      if (fs.delete(new Path(s"${dataDir(root)}/$rel"), false)) removed += 1
      if (hasBlooms) fs.delete(bloomPath(root, rel), false)
    }
    if (deep) {
      val it = fs.listFiles(data, true)
      val doomed = ListBuffer.empty[Path]
      while (it.hasNext) {
        val f = it.next()
        val rel = data.toUri.relativize(f.getPath.toUri).getPath
        if (f.getPath.getName.endsWith(".parquet") && !referenced.contains(rel))
          doomed += f.getPath
      }
      doomed.foreach { p => if (fs.delete(p, false)) removed += 1 }
      // bloom sidecars whose data file no retained snapshot references —
      // the same ownership rule as the data files themselves (covers both
      // aged-out rewrites and crash orphans from a sidecar-then-commit tick)
      val blooms = fs.makeQualified(new Path(s"$root/_blooms"))
      if (fs.exists(blooms)) {
        val bit = fs.listFiles(blooms, true)
        val deadSidecars = ListBuffer.empty[Path]
        while (bit.hasNext) {
          val f = bit.next()
          val rel = blooms.toUri.relativize(f.getPath.toUri).getPath
          if (rel.endsWith(".bloom") &&
              !referenced.contains(rel.stripSuffix(".bloom")))
            deadSidecars += f.getPath
        }
        deadSidecars.foreach(fs.delete(_, false))
      }
    }
    removed
  }
}
