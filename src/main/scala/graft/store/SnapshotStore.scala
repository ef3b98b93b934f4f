package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.json4s.jackson.Serialization

/** Versioned copy-on-write snapshot store — the Spark-native equivalent of
  * vecgo's manifest + immutable-segment LSM layer (SURVEY.md §1.1:
  * `internal/manifest/manifest.go:26-36`, `CURRENT` pointer
  * `manifest.go:20-21`; tombstones `internal/engine/tombstone.go:47-57`).
  *
  * Layout under `root/`:
  *   - `seg-<seq>/`      Parquet segment (immutable row set)
  *   - `del-<seq>/`      Parquet delete list (column `id`), applying to all
  *                       segments with seq < this delete's seq — mirroring
  *                       vecgo's LSN-versioned tombstones: a later re-insert
  *                       of the same id is visible again
  *   - `MANIFEST-<v>.json` version descriptor (segment + delete lists)
  *   - `CURRENT`          text file naming the live manifest (rename-commit,
  *                       like vecgo `manifest.go:194`)
  *
  * Every mutation (insert/upsert/delete/compact) produces a NEW version;
  * old versions stay readable (time travel, vecgo `engine.go:499-536`)
  * until [[vacuum]] reclaims their unreferenced files (refcounted across
  * retained versions, vecgo `engine.go:2048-2108`).
  *
  * Scale notes: reads are plain Parquet unions so all Catalyst/Parquet
  * pruning applies per segment; deletes are expected tiny relative to data
  * and are broadcast into an anti-join; compaction bounds segment-list
  * growth exactly like the reference's size-tiered policies (W8/W9).
  */
/** Driver-side compaction planner (vecgo W9 `CompactionPolicy.Pick`,
  * `internal/engine/policy.go`): given (seq, rows) per segment, choose a
  * set to merge, or None.
  */
trait CompactionPolicy {
  def pick(segments: Seq[(Long, Long)]): Option[Seq[Long]]
}

object CompactionPolicy {
  /** Threshold policy (`policy.go:33-50`): when more than `maxSegments`
    * exist, merge them all.
    */
  def threshold(maxSegments: Int = 4): CompactionPolicy = segs =>
    if (segs.size > maxSegments) Some(segs.map(_._1)) else None

  /** Size-tiered (`policy.go:57-112`, simplified): merge the largest
    * group of segments that fall in the same size tier (powers of
    * `ratio` over `minRows`), if at least `minMerge` share a tier.
    */
  def sizeTiered(minMerge: Int = 3, ratio: Double = 4.0,
      minRows: Long = 1024L): CompactionPolicy = segs => {
    def tier(rows: Long): Int =
      if (rows <= minRows) 0
      else (math.log(rows.toDouble / minRows) / math.log(ratio)).toInt + 1
    segs.groupBy { case (_, rows) => tier(rows) }
      .values.filter(_.size >= minMerge)
      .maxByOption(_.size)
      .map(_.map(_._1))
  }

  /** Leveled (`policy.go:123-221`, simplified): keep at most `l0Max`
    * fresh segments; when exceeded, merge the oldest `l0Max + 1` into one.
    */
  def leveled(l0Max: Int = 4): CompactionPolicy = segs =>
    if (segs.size > l0Max) Some(segs.sortBy(_._1).take(l0Max + 1).map(_._1))
    else None
}

object SnapshotStore {
  import graft.stats.SegmentStats

  /** Row cap for the driver-side small-batch segment writer: a LOCAL
    * batch at or under this takes the parquet-mr fast path (no Spark
    * job). The rows are already driver-resident when the path applies
    * (a LocalRelation), so the cap bounds only the single-threaded write
    * — 10k × ~0.5 KB/row writes in ~10 ms; past it the distributed
    * writer's parallelism wins back its scheduling floor.
    */
  val SmallInsertMaxRows: Int = 10000
  /** Pointer from the manifest to a segment's vector index: the kind, the
    * sidecar metadata JSON (centroids + quantizer bounds), and the IVF
    * list count (vecgo records index type + params in its segment header,
    * `internal/segment/flat/format.go:30-51`).
    */
  case class IndexRef(kind: String, metaPath: String, nlist: Int)
  case class SegmentRef(path: String, seq: Long, rows: Long,
      stats: Option[SegmentStats.Stats] = None,
      index: Option[IndexRef] = None)
  case class DeleteRef(path: String, seq: Long, rows: Long)
  case class Manifest(
      version: Long,
      maxSeq: Long,
      segments: List[SegmentRef],
      deletes: List[DeleteRef],
      ts: Long = 0L)
}

final class SnapshotStore(spark: SparkSession, val root: String,
    val broadcastDeleteMaxRows: Long = 4L * 1024 * 1024,
    commitGuard: CommitGuard = null) {
  import SnapshotStore._

  /** The manifest-publication CAS in force: the explicit constructor
    * argument, else picked by FS scheme ([[CommitGuard.forScheme]] —
    * rename-CAS on local/HDFS, conditional-create on object stores).
    */
  lazy val guard: CommitGuard = Option(commitGuard).getOrElse(
    CommitGuard.forScheme(
      fs.makeQualified(new Path(root)).toUri.getScheme))

  private implicit val fmts: Formats = DefaultFormats

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(v: Long) = new Path(root, f"MANIFEST-$v%06d.json")
  private def currentPath = new Path(root, "CURRENT")

  /** The live version number, or -1 if the store is empty/uninitialized.
    * If CURRENT is missing but manifests exist (interrupted commit on an FS
    * without atomic overwrite-rename), recover the highest surviving
    * manifest instead of treating the store as empty — a fresh manifest
    * chain at seq 0 would silently overwrite seg-0 (data loss).
    */
  def currentVersion: Long = {
    val f = fs
    if (!f.exists(currentPath)) versions().lastOption.getOrElse(-1L)
    else {
      // The pointer swap renames atomically for the DATA file, but on a
      // checksummed filesystem (Hadoop LocalFs) the .crc sidecar moves in
      // a SECOND rename — a concurrent reader can transiently pair the
      // new CURRENT with the old crc and die with a ChecksumException
      // (caught live by StoreFuzzSpec's amplified two-writer race; the
      // round-11 full-suite flap's mechanism). CURRENT is advisory: on a
      // transient read failure, retry briefly, then anchor on the
      // manifest listing — a completed commit's manifest is already
      // durable, so the listing is at least as current as the pointer.
      var attempt = 0
      while (attempt < 3) {
        try {
          val in = f.open(currentPath)
          val name =
            try scala.io.Source.fromInputStream(in).mkString.trim
            finally in.close()
          return name.stripPrefix("MANIFEST-").stripSuffix(".json").toLong
        } catch {
          case e: java.io.IOException =>
            attempt += 1
            if (attempt >= 3)
              System.err.println(s"[graft] WARN: CURRENT unreadable after " +
                s"$attempt attempts (${e.getMessage}) — anchoring on the " +
                "manifest listing")
            else Thread.sleep(5L << attempt)
        }
      }
      // prefer the newest PARSABLE manifest (a filename-only anchor could
      // name a torn, never-committed head and shift e.g. vacuum's keep
      // window); fall back to the bare listing only when nothing parses —
      // same data-loss rationale as the missing-CURRENT branch above
      versions().reverse.view.flatMap(manifest(_)).headOption.map(_.version)
        .orElse(versions().lastOption).getOrElse(-1L)
    }
  }

  /** All surviving manifest versions, ascending (driver-side listing). */
  def versions(): Seq[Long] = {
    val f = fs
    val p = new Path(root)
    if (!f.exists(p)) Nil
    else f.listStatus(p).map(_.getPath.getName)
      .filter(n => n.startsWith("MANIFEST-") && n.endsWith(".json"))
      .map(_.stripPrefix("MANIFEST-").stripSuffix(".json").toLong)
      .sorted.toIndexedSeq
  }

  /** Newest version committed at or before `asOfTsMillis` (vecgo
    * timestamp time travel, `engine.go:499-536`).
    */
  def versionAt(asOfTsMillis: Long): Option[Long] =
    versions().flatMap(manifest(_))
      .filter(m => m.ts > 0 && m.ts <= asOfTsMillis)
      .map(_.version).maxOption

  /** Parse a manifest; a torn/corrupt file yields None (with a warning)
    * instead of an exception, so recovery, [[versionAt]] and [[vacuum]] —
    * which parse every MANIFEST-*.json on disk — skip unreadable ones.
    */
  def manifest(version: Long = currentVersion): Option[Manifest] = {
    if (version < 0) return None
    val f = fs
    val p = manifestPath(version)
    if (!f.exists(p)) return None
    // the READ is inside the guard too: a torn write can corrupt the
    // checksum sidecar (ChecksumException) just as easily as the JSON
    try {
      val in = f.open(p)
      val s = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      Some(JsonMethods.parse(s).extract[Manifest])
    } catch {
      case e: Exception =>
        System.err.println(s"[graft] WARN: unreadable manifest $p skipped (${e.getMessage})")
        None
    }
  }

  /** The newest PARSABLE manifest — the last completed commit. Mutators
    * anchor here so a corrupt head manifest degrades to the previous
    * durable state instead of restarting the chain at seq 0 (which would
    * overwrite seg-0: data loss).
    */
  private def headManifest: Option[Manifest] =
    manifest().orElse(versions().reverse.view.flatMap(manifest(_)).headOption)

  /** The version READS resolve to: CURRENT's manifest when parsable, else
    * the newest parsable manifest — the same torn-head fallback mutators
    * use. Without this a torn head manifest made every read throw until
    * the next write re-committed over it, while writes kept succeeding.
    */
  def readableVersion: Long = headManifest.map(_.version).getOrElse(-1L)

  private def atomicRename(from: Path, to: Path,
      overwrite: Boolean = true): Unit = {
    val f = fs
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      f.makeQualified(new Path(root)).toUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(f.makeQualified(from), f.makeQualified(to),
      if (overwrite) org.apache.hadoop.fs.Options.Rename.OVERWRITE
      else org.apache.hadoop.fs.Options.Rename.NONE)
  }

  /** Publish a version. Optimistic concurrency (the shape of vecgo's CAS
    * commit stores, `blobstore/s3/ddb_commit_store.go` /
    * `express_store.go`): `MANIFEST-<v>.json` is materialized through the
    * pluggable [[guard]] CAS — atomic no-overwrite rename on
    * local/HDFS, conditional exclusive create on object stores (see
    * [[CommitGuard]]) — so of two writers that derived version v from
    * the same parent exactly one publication lands; the loser gets a
    * loud [[java.util.ConcurrentModificationException]] (its data dirs
    * are uniquely named and unreferenced; [[cleanOrphans]] reclaims
    * them) instead of silently last-writer-winning the CURRENT pointer.
    * Safe retry: re-read the head and re-apply the mutation.
    *
    * An object already at the target version is a loss, with one
    * exception: under a guard that [[CommitGuard.publishesWhole]]
    * (rename-CAS) an UNPARSABLE one can only be a crashed commit's torn
    * leftover, so it is cleared and the version contended. Under any
    * other guard (conditional-create) it may be another writer's
    * manifest between its exclusive create and its close; deleting it
    * would silently lose that writer's commit, so it is never deleted.
    */
  private[store] def commit(m: Manifest): Unit = {
    val f = fs
    val stamped = if (m.ts > 0) m else m.copy(ts = System.currentTimeMillis())
    val mp = manifestPath(m.version)
    def lost(): Nothing = throw new java.util.ConcurrentModificationException(
      s"concurrent commit: version ${m.version} already exists at $root — " +
        "another writer committed from the same parent; re-read and retry")
    if (f.exists(mp)) {
      // a PARSABLE manifest at this version is a completed commit → we
      // lost the race. An unparsable one is a torn leftover of a crashed
      // commit only where the guard never exposes a partial body at the
      // final name: clear it and contend like any other writer (the case
      // torn-head recovery re-commits over). Elsewhere it may be the
      // winner's manifest still being written → we lost, delete nothing.
      if (!guard.publishesWhole || manifest(m.version).isDefined) lost()
      f.delete(mp, false)
    }
    try guard.publishExclusive(f, spark.sparkContext.hadoopConfiguration,
      new Path(root), mp, Serialization.write(stamped).getBytes("UTF-8"))
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException => lost()
    }
    // atomic pointer swap: rename OVER the existing CURRENT (vecgo
    // `manifest.go:194` renames without a prior delete — a delete-then-
    // rename leaves a window where a concurrent reader sees no store)
    publishPointer(m.version)
  }

  /** Point CURRENT at `version`'s manifest (the tail of [[commit]]).
    * Forward-only and collision-tolerant — see the inline notes.
    */
  private[store] def publishPointer(version: Long): Unit = {
    val f = fs
    val mp = manifestPath(version)
    // per-attempt unique tmp: two writers that both (illegitimately, on a
    // guard-less object store) survive the manifest step must not clobber
    // each other's staged pointer file
    val tmp = new Path(root, s".CURRENT.tmp-$version-${uniqueToken()}")
    val t = f.create(tmp, true)
    try t.write(mp.getName.getBytes("UTF-8")) finally t.close()
    // Two concurrent swappers can interleave inside Hadoop's OVERWRITE
    // rename (on local/checksummed FSs it is check-delete-rename: A
    // deletes CURRENT, B recreates it, A's rename finds it back) and the
    // logically-overwriting rename throws FileAlreadyExistsException —
    // which used to kill a writer whose commit had already durably
    // landed (StoreFuzzSpec two-writer race, captured op log). The
    // pointer is advisory, so the swap now (a) skips when CURRENT
    // already names this version or a NEWER one — overwriting would
    // regress the pointer and serve stale reads until the next commit —
    // and (b) retries the collision, escalating to clear-then-rename (a
    // reader catching the brief no-pointer window falls back to the
    // manifest listing, which is current-or-newer). A pathological
    // collision storm gives up with a warning: the commit itself is
    // durable and the next successful swap heals the pointer.
    def pointerVersion(): Option[Long] =
      try {
        if (!f.exists(currentPath)) None
        else {
          val in = f.open(currentPath)
          val nm =
            try scala.io.Source.fromInputStream(in).mkString.trim
            finally in.close()
          Some(nm.stripPrefix("MANIFEST-").stripSuffix(".json").toLong)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    var attempt = 0
    var swapped = false
    while (!swapped && attempt < 20) {
      if (pointerVersion().exists(_ >= version)) {
        try f.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
        swapped = true
      } else {
        try {
          if (attempt >= 4) { // escalate: clear the pointer, rename into the gap
            try f.delete(currentPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
          }
          atomicRename(tmp, currentPath)
          swapped = true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException |
               _: java.nio.file.FileAlreadyExistsException =>
            attempt += 1
        }
      }
    }
    if (!swapped) {
      try f.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => () }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"CURRENT swap for version $version kept colliding; commit is " +
          "durable, pointer heals on the next commit")
    }
  }

  /** Short random token making pre-commit file/dir names unique per
    * writer attempt: two racing writers deriving the same seq can never
    * clobber each other's uncommitted segment data — the manifest CAS then
    * picks the winner and the loser's dirs age out as orphans.
    */
  private def uniqueToken(): String =
    java.util.UUID.randomUUID().toString.take(8)

  private def writeSegment(df: DataFrame, seq: Long, prefix: String): (String, Long) = {
    val (dir, rows, _) = writeSegmentObserving(df, seq, prefix, Nil)
    (dir, rows)
  }

  /** [[writeSegment]] plus caller-supplied aggregate columns observed
    * DURING the write job (e.g. [[graft.stats.SegmentStats.pass1Aggs]]) —
    * the metrics ride the write, so a stats-collecting insert pays zero
    * extra passes for its pass-1 aggregation. Returns the observed metric
    * map alongside the path and row count.
    */
  private def writeSegmentObserving(df: DataFrame, seq: Long, prefix: String,
      statsAggs: Seq[org.apache.spark.sql.Column])
      : (String, Long, Map[String, Any]) = {
    val dir = s"$root/$prefix-$seq-${uniqueToken()}"
    // row count observed DURING the write job (zero extra passes, zero
    // extra jobs — the old read-back-the-footers count paid a listing +
    // schema-inference + count job per segment)
    val obs = org.apache.spark.sql.Observation()
    val aggs = count(lit(1)).as("rows") +: statsAggs
    try {
      df.observe(obs, aggs.head, aggs.tail: _*).write.mode("overwrite")
        // per-column bloom filter on the primary key (vecgo I14 categorical
        // blooms): point-get / delete anti-joins skip row groups by id
        .option("parquet.bloom.filter.enabled#id", "true")
        // segments are dominated by float-vector bytes, which are entropy-
        // dense: snappy costs ~2.4x write CPU for <5% size win (measured on
        // the 128d synthetic corpus), so the store writes uncompressed —
        // the same raw-bytes choice the reference's segment writer makes
        .option("compression", "uncompressed")
        // packed vector blobs are unique: the dictionary attempt always
        // falls back after burning encode CPU (~15% of the segment write,
        // tools/PackProbe); scalar columns keep the default
        .option("parquet.enable.dictionary#vector", "false")
        .parquet(dir)
    } catch {
      case e: Throwable =>
        // a failed write (e.g. an inline-validation abort) must not leave
        // a half-written dir for vacuum to find — it was never committed
        try fs.delete(new Path(dir), true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    val m = obs.get
    (dir, m("rows").asInstanceOf[Long], m)
  }

  /** Driver-evaluated rows of a small LOCAL batch, or None. A batch built
    * from driver data (createDataFrame / typed Seqs — the interactive
    * ingest-window shape) optimizes to a bare `LocalRelation`: Catalyst's
    * ConvertToLocalRelation folds the validation/packing projection into
    * the relation, evaluating it ON THE DRIVER (a bad row raises here,
    * preserving the insert path's validation contract). Detection is
    * two-stage so big or genuinely-distributed inputs never pay an
    * optimizer pass twice: the ANALYZED plan's leaves must all be local
    * and small first; only then is the optimized plan consulted.
    */
  private def localSmallRows(df: DataFrame)
      : Option[(org.apache.spark.sql.types.StructType,
                Seq[org.apache.spark.sql.catalyst.InternalRow])] = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val allLocalSmall = leaves.nonEmpty && leaves.forall {
      case lr: LocalRelation => lr.data.lengthCompare(SmallInsertMaxRows) <= 0
      case _ => false
    }
    if (!allLocalSmall) return None
    df.queryExecution.optimizedPlan match {
      case lr: LocalRelation
          if lr.data.lengthCompare(SmallInsertMaxRows) <= 0 &&
            parquetWritableLocally(lr.schema) =>
        Some((lr.schema, lr.data))
      case _ => None
    }
  }

  /** Schema shapes the driver-side parquet-mr writer reproduces with the
    * EXACT layout the Spark writer would produce (same read-back types
    * and nullability): primitives, strings, packed-vector binary, and
    * array<long> Hamming codes. Anything else falls back to the Spark
    * write path.
    */
  private def parquetWritableLocally(
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    import org.apache.spark.sql.types._
    schema.fields.forall { f =>
      f.dataType match {
        case BooleanType | IntegerType | LongType | FloatType | DoubleType |
             StringType | BinaryType => true
        case ArrayType(LongType, _) => true
        case _ => false
      }
    }
  }

  /** Driver-side segment write for SMALL local batches — no Spark job
    * (r13, verdict ask 2; the segment twin of [[deleteSmall]]). A
    * scheduled write job has a ~100-300 ms floor regardless of batch
    * size, which was the serve-refresh ingest-window commit floor; a
    * 250-row window writes in single-digit ms with parquet-mr. Same dir
    * layout, same id bloom filter, same uncompressed/no-dictionary codec
    * choices as [[writeSegmentObserving]]; read paths cannot tell the
    * two apart.
    */
  private def writeSegmentLocal(
      schema: org.apache.spark.sql.types.StructType,
      rows: Seq[org.apache.spark.sql.catalyst.InternalRow],
      seq: Long, prefix: String): String = {
    import org.apache.spark.sql.types._
    val dir = s"$root/$prefix-$seq-${uniqueToken()}"
    val file = new Path(dir, "part-00000.parquet")
    def rep(nullable: Boolean) = if (nullable) "optional" else "required"
    val fieldDefs = schema.fields.map { f =>
      f.dataType match {
        case BooleanType => s"${rep(f.nullable)} boolean ${f.name};"
        case IntegerType => s"${rep(f.nullable)} int32 ${f.name};"
        case LongType => s"${rep(f.nullable)} int64 ${f.name};"
        case FloatType => s"${rep(f.nullable)} float ${f.name};"
        case DoubleType => s"${rep(f.nullable)} double ${f.name};"
        case StringType => s"${rep(f.nullable)} binary ${f.name} (UTF8);"
        case BinaryType => s"${rep(f.nullable)} binary ${f.name};"
        case ArrayType(LongType, cn) =>
          s"${rep(f.nullable)} group ${f.name} (LIST) { repeated group " +
            s"list { ${rep(cn)} int64 element; } }"
        case t => throw new IllegalStateException(
          s"unsupported local-write type $t") // guarded by parquetWritableLocally
      }
    }.mkString(" ")
    val pqSchema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType(s"message seg { $fieldDefs }")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(pqSchema, conf)
    try {
      val builder = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, conf))
        .withConf(conf)
        // same physical choices as the Spark writer: uncompressed (float
        // bytes are entropy-dense), id bloom filter for point gets /
        // delete anti-joins, no dictionary attempt on unique vector blobs
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
        .withBloomFilterEnabled("id", true)
      val b2 =
        if (schema.fieldNames.contains("vector"))
          builder.withDictionaryEncoding("vector", false)
        else builder
      val writer = b2.build()
      val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        pqSchema)
      try {
        rows.foreach { row =>
          val g = gf.newGroup()
          var i = 0
          while (i < schema.length) {
            if (!row.isNullAt(i)) {
              val name = schema(i).name
              schema(i).dataType match {
                case BooleanType => g.append(name, row.getBoolean(i))
                case IntegerType => g.append(name, row.getInt(i))
                case LongType => g.append(name, row.getLong(i))
                case FloatType => g.append(name, row.getFloat(i))
                case DoubleType => g.append(name, row.getDouble(i))
                case StringType => g.append(name,
                  org.apache.parquet.io.api.Binary.fromString(
                    row.getUTF8String(i).toString))
                case BinaryType => g.append(name,
                  org.apache.parquet.io.api.Binary.fromReusedByteArray(
                    row.getBinary(i)))
                case ArrayType(LongType, _) =>
                  val arr = row.getArray(i)
                  val lst = g.addGroup(name)
                  var k = 0
                  while (k < arr.numElements()) {
                    val el = lst.addGroup("list")
                    if (!arr.isNullAt(k)) el.append("element", arr.getLong(k))
                    k += 1
                  }
                case _ => ()
              }
            }
            i += 1
          }
          writer.write(g)
        }
      } finally writer.close()
    } catch {
      case e: Throwable =>
        try fs.delete(new Path(dir), true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    dir
  }

  /** Tombstone anti-join, vecgo LSN rule: a delete with seq d hides ids in
    * segments with seq < d; later segments (re-inserts) are unaffected.
    * Expects `segs` to carry `id` and `_seq` columns — any per-row derived
    * frame qualifies (the lexical layer runs its per-segment postings and
    * doc-length deltas through the SAME join, so lexical visibility is
    * definitionally identical to row visibility).
    */
  private[graft] def applyDeletes(segs: DataFrame, m: Manifest): DataFrame =
    if (m.deletes.isEmpty) segs
    else {
      val dels = m.deletes.map { d =>
        spark.read.parquet(d.path).select(col("id").as("_del_id"),
          lit(d.seq).as("_del_seq"))
      }.reduce(_ unionByName _)
      val delSide =
        if (m.deletes.map(_.rows).sum <= broadcastDeleteMaxRows) broadcast(dels)
        else dels
      segs.join(delSide,
        col("id") === col("_del_id") && col("_del_seq") > col("_seq"),
        "left_anti")
    }

  /** unionByName across segments with packed-layout canonicalization: a
    * store written across the packed-vector switch can hold the same
    * column as an LE float32 blob (binary) in newer segments and
    * array<float> in older ones — pack the array side before the union
    * (packed is canonical; readers unpack at the public boundary).
    */
  private def unionSegs(frames: Seq[DataFrame]): DataFrame =
    if (frames.lengthCompare(1) == 0) frames.head
    else {
      import org.apache.spark.sql.types.{ArrayType, BinaryType, FloatType}
      val packedCols = frames.flatMap(_.schema.fields).collect {
        case f if f.dataType == BinaryType => f.name
      }.toSet
      frames.map { df =>
        df.schema.fields.collect {
          case f if packedCols.contains(f.name) &&
              (f.dataType match {
                case ArrayType(FloatType, _) => true
                case _ => false
              }) => f.name
        }.foldLeft(df)((d, n) =>
          d.withColumn(n, graft.functions.vec_pack_f32(col(n))))
        // schema evolution (vecgo's metadata model is open/dynamic —
        // unknown keys pass through, metadata/schema.go:50): segments
        // written after a column was added union with NULL for the
        // segments that predate it. Same-name columns with CONFLICTING
        // types still fail loudly in the union below.
      }.reduce(_.unionByName(_, allowMissingColumns = true))
    }

  /** One segment frame with `_seq` attached; internal index columns
    * (IVF partition, quantized codes) are hidden from logical reads.
    */
  private def segFrame(s: SegmentRef): DataFrame =
    spark.read.parquet(s.path)
      .drop(graft.index.SegmentIndex.InternalCols: _*)
      .withColumn("_seq", lit(s.seq))

  /** One segment with tombstones applied and internal index columns KEPT —
    * the indexed-search path needs `_ivf_part` (partition pruning) and
    * `_sq8` (approximate scoring).
    */
  def visibleSegment(s: SegmentRef, m: Manifest): DataFrame =
    applyDeletes(spark.read.parquet(s.path).withColumn("_seq", lit(s.seq)), m)
      .drop("_seq")

  /** Read a version (default: current) as a DataFrame. Row visibility
    * follows vecgo tombstone semantics: a delete with seq d hides ids in
    * segments with seq < d; later segments (re-inserts) are unaffected.
    */
  def read(version: Long = readableVersion): DataFrame = {
    val m = manifest(version).getOrElse(
      throw new IllegalStateException(s"no version $version at $root"))
    require(m.segments.nonEmpty, s"version $version has no segments")
    val segs = unionSegs(m.segments.map(segFrame))
    applyDeletes(segs, m).drop("_seq")
  }

  /** Newest snapshot committed at or before the timestamp. */
  def readAsOf(asOfTsMillis: Long): DataFrame =
    read(versionAt(asOfTsMillis).getOrElse(throw new IllegalStateException(
      s"no version committed at or before $asOfTsMillis at $root")))

  /** Append a batch as a new segment → new version (vecgo W2/W3 deferred
    * bulk load + W7 commit). `df` must carry a unique `id` column.
    */
  /** Vector dim already recorded by an earlier segment's vec stats — the
    * steady-state `dimHint` for [[graft.stats.SegmentStats.collect]]
    * (folds the radius pass into the histogram pass: 2 stats jobs per
    * insert instead of 3; only the store's FIRST stats collect discovers
    * the dim from the data).
    */
  private def statsDimHint(m: Manifest): Option[Int] =
    m.segments.iterator.flatMap(_.stats.flatMap(_.vec))
      .map(_.centroid.length).nextOption()

  def insert(df: DataFrame, collectStats: Boolean = false,
      vecCol: Option[String] = None): Long = {
    val m = headManifest.getOrElse(Manifest(-1L, -1L, Nil, Nil))
    val seq = m.maxSeq + 1
    val hint = statsDimHint(m)
    // r13 (verdict ask 2): a small driver-local batch skips the Spark
    // write job entirely — parquet-mr direct write (deleteSmall's
    // pattern). Validation/packing already ran on the driver when the
    // local plan collapsed. Stats values are identical: pass 1 runs the
    // SAME pass1Aggs expressions as one agg job over the written file
    // (the pre-observe shape), pass 2 is unchanged — so a stats-ful
    // small insert still pays 2 jobs, but the 100-300 ms write-job floor
    // becomes a ~10 ms driver write; a stats-less one pays ZERO jobs.
    localSmallRows(df).foreach { case (schema, rows) =>
      if (rows.isEmpty) return math.max(m.version, -1L)
      val path = writeSegmentLocal(schema, rows, seq, "seg")
      val stats =
        if (collectStats) {
          val rb = spark.read.parquet(path)
          val aggs = graft.stats.SegmentStats.pass1Aggs(rb.schema, vecCol, hint)
          val row = rb.agg(aggs.head, aggs.tail: _*).collect()(0)
          Some(graft.stats.SegmentStats.collectFromPass1(rb, vecCol, hint,
            row.getValuesMap[Any](row.schema.fieldNames.toSeq)))
        } else None
      val next = Manifest(m.version + 1, seq,
        m.segments :+ SegmentRef(path, seq, rows.length.toLong, stats),
        m.deletes)
      commit(next)
      return next.version
    }
    // stats pass 1 (bounds/ndv/rows + centroid sum under a dim hint)
    // rides the WRITE job itself via observe — same expressions over the
    // same rows as a post-write agg, one fewer pass over the segment
    val p1Aggs =
      if (collectStats)
        graft.stats.SegmentStats.pass1Aggs(df.schema, vecCol, hint)
      else Nil
    val (path, rows, p1) = writeSegmentObserving(df, seq, "seg", p1Aggs)
    if (rows == 0) { // empty batch: no-op, drop the stray dir
      fs.delete(new Path(path), true)
      return math.max(m.version, -1L)
    }
    // pass 2 (blooms/hists/radius/top-k) from the WRITTEN files (vecgo I13)
    val stats =
      if (collectStats)
        Some(graft.stats.SegmentStats.collectFromPass1(
          spark.read.parquet(path), vecCol, hint, p1))
      else None
    val next = Manifest(m.version + 1, seq,
      m.segments :+ SegmentRef(path, seq, rows, stats), m.deletes)
    commit(next)
    next.version
  }

  /** Derived-lexical-delta directory for a segment: one immutable
    * postings/doclen delta per segment dir, named after it
    * (`seg-<seq>-<token>` -> `lexdelta-<seq>-<token>`), so the delta's
    * lifetime is keyed to its segment's — built lazily by
    * [[graft.GraftDB.lexicalIndex]], reclaimed here when the segment's
    * files are (vecgo maintains its inverted index incrementally per
    * insert/delete, `lexical/bm25/bm25.go:180-278`; the immutable-segment
    * analog is one delta per segment plus the tombstone anti-join).
    */
  def lexDeltaDir(segPath: String): String =
    s"$root/lexdelta-${new Path(segPath).getName.stripPrefix("seg-")}"

  /** Names of persisted per-segment lexical deltas under the root (the
    * footprint surface for [[graft.GraftDB.stats]]).
    */
  def lexicalDeltas: Seq[String] =
    if (!fs.exists(new Path(root))) Nil
    else fs.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("lexdelta-"))
      .sorted

  /** Roll the HEAD back to an earlier version's content as a NEW
    * commit (the lakehouse RESTORE verb — the recovery half of time
    * travel: a pinned read inspects the past, restore makes it current
    * again after a bad write). Nothing is copied or deleted: the new
    * manifest re-references the old version's segments/deletes (they
    * are refcounted across versions, so vacuum keeps them while any
    * retained manifest points at them), `maxSeq` stays at the head's
    * value so post-restore writes never collide with seqs issued in the
    * rolled-back window, and the restored-over versions remain
    * time-travelable until vacuumed. Returns the new head version.
    */
  def restore(version: Long): Long = {
    val target = manifest(version).getOrElse(
      throw new IllegalArgumentException(
        s"no manifest at version $version in $root — already vacuumed?"))
    val head = headManifest.getOrElse(
      throw new IllegalStateException("restore on an empty store"))
    require(version < head.version,
      s"restore target $version is not before the head ${head.version}")
    val v = head.version + 1
    commit(Manifest(v, head.maxSeq, target.segments, target.deletes))
    v
  }

  /** Clone the store's state at `version` (default: head) into
    * `destRoot` — a consistent frozen CUT for backup, shipping to
    * another environment, or forking a dev store off production: every
    * referenced segment dir, delete list, index sidecar, and lexical
    * delta is copied byte-for-byte, and ONE manifest (the pinned
    * version, paths rebased onto the destination) is published through
    * the DESTINATION's own [[CommitGuard]] (a clone onto s3a gets the
    * conditional-create CAS automatically). Earlier history is
    * deliberately not carried — a clone is a cut, not a mirror of the
    * chain — and the clone is immediately openable and independently
    * writable (its next commit is `version + 1`). The source is only
    * read, so cloning is safe on a read-only/pinned open; unreferenced
    * orphans and older versions never travel. Returns the cloned
    * version. Refuses a destination that already holds a store.
    * `guard` overrides the destination's scheme-picked CAS (testing /
    * emulated schemes).
    */
  def cloneAt(destRoot: String, version: Long = -1L,
      guard: CommitGuard = null): Long = {
    val m = (if (version >= 0) manifest(version) else headManifest)
      .getOrElse(throw new IllegalArgumentException(
        s"no manifest${if (version >= 0) s" at version $version" else ""} " +
          s"in $root"))
    val conf = spark.sparkContext.hadoopConfiguration
    val srcFs = fs
    val dp = new Path(destRoot)
    val destFs = dp.getFileSystem(conf)
    require(!destFs.exists(new Path(destRoot, "CURRENT")),
      s"destination $destRoot already holds a store — clone into a " +
        "fresh root")
    destFs.mkdirs(dp)
    def copyInto(srcPath: String): String = {
      val sp = new Path(srcPath)
      val tp = new Path(destRoot, sp.getName)
      if (!org.apache.hadoop.fs.FileUtil.copy(
          srcFs, sp, destFs, tp, false, conf))
        throw new java.io.IOException(s"clone copy failed: $sp -> $tp")
      s"$destRoot/${sp.getName}"
    }
    val segs = m.segments.map { s =>
      val np = copyInto(s.path)
      val ld = new Path(lexDeltaDir(s.path))
      if (srcFs.exists(ld)) copyInto(ld.toString)
      s.copy(path = np,
        index = s.index.map(ir => ir.copy(metaPath = copyInto(ir.metaPath))))
    }
    val dels = m.deletes.map(d => d.copy(path = copyInto(d.path)))
    // publish through the destination's own guard (scheme-selected
    // unless overridden); keep the original ts so as-of-timestamp opens
    // see the cut's time
    new SnapshotStore(spark, destRoot, broadcastDeleteMaxRows, guard)
      .commit(Manifest(m.version, m.maxSeq, segs, dels, m.ts))
    m.version
  }

  /** Row-level change feed between two versions — the lakehouse
    * `table_changes` verb, the user-facing twin of the serving tier's
    * file-diff refresh ([[graft.serve.LocalReplica.refreshFrom]]):
    * everything a downstream incremental consumer must apply to move a
    * copy of `fromVersion` forward to `toVersion`. Output: `op` then the
    * full row columns — `op='delete'` rows carry the id with data
    * columns NULL, `op='insert'` rows are complete. Applying the deletes
    * then the inserts to `read(fromVersion)` yields exactly
    * `read(toVersion)` (property-fuzzed in `StoreDiffSpec`): an id
    * upserted in the window surfaces as delete+insert; an id both
    * inserted and removed inside the window emits only a harmless
    * idempotent delete; untouched rows never appear.
    *
    * Cost: between compactions the version chain is append-only at the
    * FILE level, so the fast path reads ONLY the window's new segment
    * and tombstone files — never the corpus (the incremental-pipeline
    * property that makes a 100 TB consumer pay for its delta, not the
    * table). When compaction/restore rewrote files across the window (a
    * file diff cannot express a rewrite) it falls back to the full
    * two-version diff: id anti-join for deletes plus a same-id
    * content-hash compare for upserts — two scans, shuffle-bounded,
    * correct at any history.
    */
  def diff(fromVersion: Long, toVersion: Long = readableVersion): DataFrame = {
    require(fromVersion < toVersion,
      s"diff window is empty or inverted: $fromVersion >= $toVersion")
    val m0 = manifest(fromVersion).getOrElse(throw new IllegalArgumentException(
      s"no manifest at version $fromVersion in $root — already vacuumed?"))
    val m1 = manifest(toVersion).getOrElse(throw new IllegalArgumentException(
      s"no manifest at version $toVersion in $root"))
    val fromSegs = m0.segments.map(_.path).toSet
    val fromDels = m0.deletes.map(_.path).toSet
    val fileDiffOk = fromSegs.subsetOf(m1.segments.map(_.path).toSet) &&
      fromDels.subsetOf(m1.deletes.map(_.path).toSet)
    val (inserts: Option[DataFrame], deleteIds: Option[DataFrame]) =
      if (fileDiffOk) {
        val newSegs = m1.segments.filterNot(s => fromSegs(s.path))
        val newDels = m1.deletes.filterNot(d => fromDels(d.path))
        val ins =
          if (newSegs.isEmpty) None
          else Some(
            applyDeletes(unionSegs(newSegs.map(segFrame)), m1).drop("_seq"))
        val dels =
          if (newDels.isEmpty) None
          else Some(newDels
            .map(d => spark.read.parquet(d.path).select("id"))
            .reduce(_ union _).distinct())
        (ins, dels)
      } else {
        val from = read(fromVersion)
        val to = read(toVersion)
        // content hash over every column in a pinned (sorted) order so an
        // upsert that changed any field surfaces as delete+insert
        val hcols = to.columns.sorted.map(col).toSeq
        val fromH = from.withColumn("_h0", xxhash64(hcols: _*))
          .select(col("id"), col("_h0"))
        val toH = to.withColumn("_h1", xxhash64(hcols: _*))
        val ins = toH.join(fromH, Seq("id"), "left")
          .where(col("_h0").isNull || col("_h0") =!= col("_h1"))
          .drop("_h0", "_h1")
        val dels = from.select("id")
          .join(to.select("id"), Seq("id"), "left_anti")
          .union(toH.join(fromH, Seq("id"), "inner")
            .where(col("_h0") =!= col("_h1")).select("id"))
        (Some(ins), Some(dels))
      }
    val outSchema = read(toVersion).schema
    def empty: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val insDf = inserts.getOrElse(empty)
    val nulled = outSchema.fields.toSeq.map(f =>
      if (f.name == "id") col("id")
      else lit(null).cast(f.dataType).as(f.name))
    val delDf = deleteIds.getOrElse(empty.select(col("id")))
      .select(nulled: _*)
    delDf.withColumn("op", lit("delete"))
      .unionByName(insDf.withColumn("op", lit("insert")))
      .select((col("op") +: outSchema.fields.toSeq.map(f => col(f.name))): _*)
  }

  /** Stats-pruned read: drop whole segments whose manifest stats prove the
    * AND-filter can't match (vecgo segment pruning, `segment_pruning.go:
    * 15-121`), then apply the residual filter to the survivors. Returns
    * the frame plus (scanned, pruned) segment seqs for observability.
    */
  def prunedRead(filters: Seq[graft.types.Filter],
      version: Long = readableVersion): (DataFrame, Seq[Long], Seq[Long]) = {
    val m = manifest(version).getOrElse(
      throw new IllegalStateException(s"no version $version at $root"))
    val (pruned, kept) = m.segments.partition(s =>
      s.stats.exists(st => graft.stats.SegmentStats.canPruneAll(st, filters)))
    val pred = graft.types.FilterSet(filters).toColumn
    if (kept.isEmpty) {
      // all segments pruned: empty frame with the store schema
      val schema = spark.read.parquet(m.segments.head.path).schema
      return (spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
        Nil, pruned.map(_.seq))
    }
    val segs = unionSegs(kept.map(segFrame))
    (applyDeletes(segs, m).drop("_seq").where(pred),
      kept.map(_.seq), pruned.map(_.seq))
  }

  /** Tombstone ids → new version (vecgo W5). Idempotent: deleting a
    * missing id is a no-op at read time.
    */
  def delete(ids: DataFrame): Long = {
    val m = headManifest.getOrElse(
      throw new IllegalStateException("delete on empty store"))
    val seq = m.maxSeq + 1
    val (path, rows) = writeSegment(ids.select(col("id")), seq, "del")
    val next = Manifest(m.version + 1, seq, m.segments,
      m.deletes :+ DeleteRef(path, seq, rows))
    commit(next)
    next.version
  }

  /** Atomic mixed batch (vecgo `ApplyBatch`, `internal/engine/batch.go:70`):
    * inserts (upsert semantics — a re-inserted id replaces the old row)
    * plus explicit deletes of other ids, in ONE version commit. Readers
    * see either none or all of the batch; a crash between the segment
    * writes and the manifest rename leaves only orphan dirs for vacuum.
    */
  def writeBatch(records: Option[DataFrame], deleteIds: DataFrame): Long = {
    val m = headManifest.getOrElse(Manifest(-1L, -1L, Nil, Nil))
    val delSeq = m.maxSeq + 1
    val segSeq = m.maxSeq + 2
    // one tombstone list: explicit deletes ∪ upserted ids — both must hide
    // rows in every pre-batch segment (seq < delSeq), never the new one
    val tombIds = records match {
      case Some(df) => deleteIds.select(col("id")).unionByName(
        df.select(col("id"))).distinct()
      case None => deleteIds.select(col("id"))
    }
    val (delPath, delRows) = writeSegment(tombIds, delSeq, "del")
    val (segPath, segRows) = records match {
      case Some(df) => val (p, r) = writeSegment(df, segSeq, "seg"); (Some(p), r)
      case None => (None, 0L)
    }
    if (delRows == 0 && segRows == 0) { // empty batch: no-op
      fs.delete(new Path(delPath), true)
      segPath.foreach(p => fs.delete(new Path(p), true))
      return math.max(m.version, -1L)
    }
    val next = Manifest(m.version + 1, segSeq,
      m.segments ++ segPath.map(p => SegmentRef(p, segSeq, segRows)),
      m.deletes :+ DeleteRef(delPath, delSeq, delRows))
    commit(next)
    next.version
  }

  /** Driver-side tombstone write for SMALL id lists — no Spark job. The
    * reference's delete is an in-memory tombstone append (16.5 M ids/s,
    * `internal/engine/tombstone.go:47-57`); a scheduled Spark job has a
    * ~100 ms floor regardless of list size, so small deletes — the common
    * interactive case — write the one-column parquet file directly from
    * the driver with the parquet-mr writer and pay only file-write +
    * manifest-commit time. Same `del-` dir layout, same `DeleteRef`, same
    * CAS commit; read paths cannot tell the two apart. Large lists should
    * use [[delete]] (the distributed write) — the engine facade routes by
    * size.
    */
  def deleteSmall(ids: Seq[Long]): Long = {
    val m = headManifest.getOrElse(
      throw new IllegalStateException("delete on empty store"))
    val seq = m.maxSeq + 1
    val dir = s"$root/del-$seq-${uniqueToken()}"
    val file = new Path(dir, "part-00000.parquet")
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message del { required int64 id; }")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
    try {
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
        .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
          .fromPath(file, conf))
        .withConf(conf)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.UNCOMPRESSED)
        .build()
      val gf = new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        schema)
      try {
        val it = ids.iterator
        while (it.hasNext) writer.write(gf.newGroup().append("id", it.next()))
      } finally writer.close()
    } catch {
      case e: Throwable =>
        try fs.delete(new Path(dir), true)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
    val next = Manifest(m.version + 1, seq, m.segments,
      m.deletes :+ DeleteRef(dir, seq, ids.size.toLong))
    commit(next)
    next.version
  }

  /** Upsert: tombstone existing rows with these ids, then append the new
    * rows — one atomic version bump (vecgo `engine.go:993-1004`: re-insert
    * of an existing id tombstones the old row).
    */
  def upsert(df: DataFrame): Long = {
    val m = headManifest.getOrElse(return insert(df))
    val delSeq = m.maxSeq + 1
    val segSeq = m.maxSeq + 2
    val (delPath, delRows) = writeSegment(df.select(col("id")), delSeq, "del")
    val (segPath, segRows) = writeSegment(df, segSeq, "seg")
    val next = Manifest(m.version + 1, segSeq,
      m.segments :+ SegmentRef(segPath, segSeq, segRows),
      m.deletes :+ DeleteRef(delPath, delSeq, delRows))
    commit(next)
    next.version
  }

  /** Merge all live rows into one segment, dropping tombstones → new
    * version (vecgo W8 compaction). Old versions remain time-travelable.
    *
    * Index preservation: if the store carries a built index, compaction
    * REBUILDS it into the merged segment with the same model parameters
    * (read from the sidecar) instead of silently demoting the store to
    * brute-force — vecgo's compaction likewise re-creates IVF segments
    * (`internal/engine/compaction.go:136-151`).
    */
  def compact(collectStats: Boolean = false,
      vecCol: Option[String] = None): Long = {
    val m = headManifest.getOrElse(
      throw new IllegalStateException("compact on empty store"))
    m.segments.reverse.find(_.index.isDefined) match {
      case Some(s) =>
        val meta = graft.index.SegmentIndex.load(s.index.get.metaPath,
          spark.sparkContext.hadoopConfiguration)
        compactIndexed(meta.vecCol, meta.nlist, meta.levels,
          collectStats = collectStats || m.segments.exists(_.stats.isDefined),
          kind = meta.kind, pqM = meta.pqM)
      case None =>
        val live = read(m.version)
        val seq = m.maxSeq + 1
        val hint = statsDimHint(m)
        // stats pass 1 rides the rewrite job itself (observe) — one fewer
        // full pass over the compacted segment
        val p1Aggs =
          if (collectStats)
            graft.stats.SegmentStats.pass1Aggs(live.schema, vecCol, hint)
          else Nil
        val (path, rows, p1) = writeSegmentObserving(live, seq, "seg", p1Aggs)
        val stats =
          if (collectStats)
            Some(graft.stats.SegmentStats.collectFromPass1(
              spark.read.parquet(path), vecCol, hint, p1))
          else None
        val next = Manifest(m.version + 1, seq,
          List(SegmentRef(path, seq, rows, stats)), Nil)
        commit(next)
        next.version
    }
  }

  /** Z-order clustered compaction (the Delta/Iceberg `OPTIMIZE ZORDER BY`
    * analog, [[ZOrder]]): merge all live rows into one segment whose
    * files are range-partitioned and sorted by the Morton z-value of
    * `cols` — every output file then covers a small hyper-rectangle of
    * the key space, so parquet footer min/max stats prune files and row
    * groups for MULTI-column predicates (plain compaction's insert-order
    * files straddle the whole domain and prune nothing). One GK quantile
    * sketch per column + the one range shuffle the rewrite needs anyway;
    * the z-value is a codegen'd expression (no UDF).
    *
    * Refuses indexed stores loudly: an IVF layout IS the clustering of
    * an indexed segment — re-clustering by metadata would silently drop
    * the probed layout (use `compactIndexed` there).
    *
    * @param targetFiles output file count (0 → spark.sql.shuffle.partitions)
    */
  def compactZOrder(cols: Seq[String], bits: Int = 8,
      collectStats: Boolean = false, vecCol: Option[String] = None,
      targetFiles: Int = 0): Long = {
    val m = headManifest.getOrElse(
      throw new IllegalStateException("compactZOrder on empty store"))
    require(!m.segments.exists(_.index.isDefined),
      "compactZOrder on an indexed store would drop the probed layout — " +
        "use compactIndexed (the IVF layout is that segment's clustering)")
    val live = read(m.version)
    cols.foreach(c => require(live.columns.contains(c),
      s"compactZOrder: no column `$c` in the store schema"))
    val files =
      if (targetFiles > 0) targetFiles
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val z = ZOrder.zColumn(live, cols, bits)
    val clustered = live.repartitionByRange(files, z)
      .sortWithinPartitions(z)
    val seq = m.maxSeq + 1
    val hint = statsDimHint(m)
    val wantStats = collectStats || m.segments.exists(_.stats.isDefined)
    // stats pass 1 rides the clustered rewrite job (observe) — one fewer
    // full pass over the compacted segment
    val p1Aggs =
      if (wantStats)
        graft.stats.SegmentStats.pass1Aggs(clustered.schema, vecCol, hint)
      else Nil
    val (path, rows, p1) = writeSegmentObserving(clustered, seq, "seg", p1Aggs)
    val stats =
      if (wantStats)
        Some(graft.stats.SegmentStats.collectFromPass1(
          spark.read.parquet(path), vecCol, hint, p1))
      else None
    val next = Manifest(m.version + 1, seq,
      List(SegmentRef(path, seq, rows, stats)), Nil)
    commit(next)
    next.version
  }

  /** Compact all live rows into ONE indexed segment: IVF-partitioned
    * layout + SQ8 codes baked into the segment files, model parameters in
    * a sidecar recorded by the manifest. This is the vecgo move of
    * building the index INTO the segment at compaction
    * (`internal/engine/compaction.go:136-151`) so that search consults it
    * automatically. Old versions stay time-travelable.
    */
  def compactIndexed(vecCol: String, nlist: Int, levels: Int = 255,
      collectStats: Boolean = true, trainSampleCap: Long = 200000L,
      kind: String = "ivf_sq8", pqM: Int = 0): Long = {
    import graft.index.SegmentIndex
    val m = headManifest.getOrElse(
      throw new IllegalStateException("compactIndexed on empty store"))
    val live = read(m.version)
    val seq = m.maxSeq + 1
    val token = uniqueToken()
    val dir = s"$root/seg-$seq-$token"
    val (meta, rows) = SegmentIndex.build(live, vecCol, dir, nlist, levels,
      totalRows = m.segments.map(_.rows).sum, trainSampleCap = trainSampleCap,
      kind = kind, pqM = pqM)
    val metaPath = s"$root/idx-$seq-$token.json"
    SegmentIndex.save(meta, metaPath, spark.sparkContext.hadoopConfiguration)
    val back = spark.read.parquet(dir)
    val stats =
      if (collectStats)
        Some(graft.stats.SegmentStats.collect(
          back.drop(SegmentIndex.InternalCols: _*), Some(vecCol),
          statsDimHint(m)))
      else None
    val next = Manifest(m.version + 1, seq,
      List(SegmentRef(dir, seq, rows, stats,
        Some(IndexRef(meta.kind, metaPath, meta.nlist)))), Nil)
    commit(next)
    next.version
  }

  /** Incremental index maintenance: fold the UNINDEXED tail segments into
    * one new indexed segment using the newest existing sidecar's FROZEN
    * model — encode + assign only the tail rows (one pass, no k-means
    * re-training) and leave every already-indexed segment untouched. The
    * vector-index analog of the per-segment lexical deltas: appends land
    * as plain segments, and this folds them into the probed layout without
    * the full-corpus `compactIndexed` rebuild. Pending deletes against the
    * tail are applied in the rewrite (the new segment's seq outruns every
    * existing delete list — the same LSN rule as [[compactSegments]]).
    * Returns None when there is no tail to fold.
    */
  /** The live index model: the sidecar of the NEWEST indexed segment
    * (all segments of one index share centroids/bounds/codebooks — the
    * fold path copies them frozen). None when nothing is indexed.
    */
  def indexMeta(): Option[graft.index.SegmentIndex.Meta] =
    headManifest.flatMap(_.segments.filter(_.index.isDefined)
      .sortBy(_.seq).lastOption
      .map(s => graft.index.SegmentIndex.load(s.index.get.metaPath,
        spark.sparkContext.hadoopConfiguration)))

  /** Drift evidence of the unindexed tail vs the frozen index model —
    * ONE pass over the tail's live rows (nearest-centroid assign +
    * distance against the train-time per-list q95 radius), nothing
    * touched on the indexed segments. None when there is no tail; fails
    * loudly (like [[extendIndexed]]) when there is no index at all.
    * Input to [[graft.index.IndexPolicy]]'s fold-vs-retrain decision.
    */
  def tailDrift(): Option[graft.index.IndexPolicy.Drift] = {
    import graft.index.{IndexPolicy, IVF, SegmentIndex}
    val m = headManifest.getOrElse(
      throw new IllegalStateException("tailDrift on empty store"))
    val idxSegs = m.segments.filter(_.index.isDefined)
    require(idxSegs.nonEmpty,
      "tailDrift needs an existing index — buildIndex first")
    val tail = m.segments.filter(_.index.isEmpty)
    if (tail.isEmpty) return None
    val meta = indexMeta().get
    val ivf = SegmentIndex.ivfModel(meta)
    // pre-upgrade sidecars carry only max radii: fall back with a 0.0
    // baseline (nothing exceeded the max at train time by construction)
    val (radii, baseline) =
      if (meta.trainRadiiQ.nonEmpty) (meta.trainRadiiQ, 0.05) else (meta.listRadii, 0.0)
    val live = applyDeletes(unionSegs(tail.map(segFrame)), m).drop("_seq")
    val vecCol = meta.vecCol
    val isPacked = live.schema(vecCol).dataType ==
      org.apache.spark.sql.types.BinaryType
    val vecF =
      if (isPacked) graft.functions.vec_unpack_f32(col(vecCol)) else col(vecCol)
    val centroidLit = typedlit(ivf.centroids.map(_.toSeq).toSeq)
    val radiiLit = typedlit(radii)
    val part = ivf.assignCol(vecF)
    val row = live.select(
        graft.functions.vec_l2(vecF,
          element_at(centroidLit, part + 1)).as("d"),
        element_at(radiiLit, part + 1).as("r"))
      .agg(count(lit(1)).as("n"),
        count(when(col("d") > col("r"), 1)).as("out"))
      .collect()(0)
    val n = row.getLong(0)
    if (n == 0) return None // fully-deleted tail: extendIndexed drops it
    val indexedRows = idxSegs.map(_.rows).sum
    Some(IndexPolicy.Drift(row.getLong(1).toDouble / n, baseline, n,
      indexedRows))
  }

  def extendIndexed(): Option[Long] = {
    import graft.index.SegmentIndex
    val m = headManifest.getOrElse(
      throw new IllegalStateException("extendIndexed on empty store"))
    val idxSegs = m.segments.filter(_.index.isDefined)
    require(idxSegs.nonEmpty,
      "extendIndexed needs an existing index to extend — buildIndex first")
    val tail = m.segments.filter(_.index.isEmpty)
    if (tail.isEmpty) return None
    val meta = SegmentIndex.load(idxSegs.maxBy(_.seq).index.get.metaPath,
      spark.sparkContext.hadoopConfiguration)
    val live = applyDeletes(unionSegs(tail.map(segFrame)), m).drop("_seq")
    val seq = m.maxSeq + 1
    val remaining = m.segments.filterNot(s => tail.exists(_.seq == s.seq))
    // fully-deleted tail: nothing to index — just drop the tail segments
    // (and the delete lists that only applied to them) from the manifest
    if (live.isEmpty) {
      val minSeq = (remaining.map(_.seq) :+ seq).min
      val next = Manifest(m.version + 1, seq, remaining,
        m.deletes.filter(_.seq > minSeq))
      commit(next)
      return Some(next.version)
    }
    val token = uniqueToken()
    val dir = s"$root/seg-$seq-$token"
    val (newMeta, rows) = SegmentIndex.extend(live, meta, dir)
    val metaPath = s"$root/idx-$seq-$token.json"
    SegmentIndex.save(newMeta, metaPath, spark.sparkContext.hadoopConfiguration)
    val back = spark.read.parquet(dir)
    val stats =
      if (m.segments.exists(_.stats.isDefined))
        Some(graft.stats.SegmentStats.collect(
          back.drop(SegmentIndex.InternalCols: _*), Some(newMeta.vecCol),
          statsDimHint(m)))
      else None
    val minSeq = (remaining.map(_.seq) :+ seq).min
    val next = Manifest(m.version + 1, seq,
      remaining :+ SegmentRef(dir, seq, rows, stats,
        Some(IndexRef(newMeta.kind, metaPath, newMeta.nlist))),
      m.deletes.filter(_.seq > minSeq))
    commit(next)
    Some(next.version)
  }

  /** Partial compaction (vecgo W8 `CompactWithContext([]SegmentID)`):
    * merge ONLY the chosen segments — their live rows (deletes applied)
    * are rewritten as one new segment; other segments and all delete
    * lists are untouched. Retained deletes never apply to the merged
    * segment because its seq is newer than every delete — exactly the
    * LSN rule, so no delete rewriting is needed.
    */
  def compactSegments(seqs: Seq[Long]): Long = {
    val m = headManifest.getOrElse(
      throw new IllegalStateException("compact on empty store"))
    val chosen = m.segments.filter(s => seqs.contains(s.seq))
    require(chosen.nonEmpty, "no segments chosen")
    val segs = unionSegs(chosen.map(segFrame))
    val live = applyDeletes(segs, m)
    val seq = m.maxSeq + 1
    val (path, rows) = writeSegment(live.drop("_seq"), seq, "seg")
    val remaining = m.segments.filterNot(s => seqs.contains(s.seq))
    // GC delete lists that no longer apply to any remaining older segment
    val minSeq = (remaining.map(_.seq) :+ seq).min
    val (liveDels, _) = m.deletes.partition(_.seq > minSeq)
    val next = Manifest(m.version + 1, seq,
      remaining :+ SegmentRef(path, seq, rows), liveDels)
    commit(next)
    next.version
  }

  /** Whether compaction is warranted: size-tiered trigger on segment count
    * (vecgo W9 `Threshold` policy, simplified).
    */
  def shouldCompact(maxSegments: Int = 4): Boolean =
    manifest().exists(_.segments.size > maxSegments)

  /** Run one round of a compaction policy if it picks a task. */
  def maybeCompact(policy: CompactionPolicy): Option[Long] =
    manifest().flatMap { m =>
      policy.pick(m.segments.map(s => s.seq -> s.rows)).map(compactSegments)
    }

  /** Drop versions older than the last `keepVersions`, deleting files not
    * referenced by any retained version (refcount semantics of vecgo W10
    * `Vacuum`).
    */
  def vacuum(keepVersions: Int): Unit = vacuum(keepVersions, 0L)

  /** Retention with BOTH a version floor and an age window (vecgo
    * `RetentionPolicy{KeepVersions, KeepDuration}`, `engine.go:46-52`): a
    * version survives if it is among the newest `keepVersions` OR was
    * committed within `keepDurationMs` of `nowMs`.
    */
  def vacuum(keepVersions: Int, keepDurationMs: Long,
      nowMs: Long = System.currentTimeMillis()): Unit = {
    val cur = currentVersion
    if (cur < 0) return
    val byCount = math.max(0L, cur - keepVersions + 1)
    val keepFrom =
      if (keepDurationMs <= 0) byCount
      else {
        val cutoff = nowMs - keepDurationMs
        val byAge = versions().flatMap(manifest(_))
          .filter(m => m.ts >= cutoff).map(_.version)
          .minOption.getOrElse(cur)
        math.min(byCount, byAge)
      }
    val f = fs
    def refs(m: Manifest): Seq[String] =
      m.segments.map(_.path) ++ m.deletes.map(_.path) ++
        m.segments.flatMap(_.index.map(_.metaPath))
    val kept = (keepFrom to cur).flatMap(manifest(_))
    val referenced: Set[String] = kept.flatMap(refs).toSet
    val dropped = (0L until keepFrom).flatMap(manifest(_))
    val candidates: Set[String] = dropped.flatMap(refs).toSet
    (candidates -- referenced).foreach { p =>
      f.delete(new Path(p), true)
      // a segment's derived lexical delta dies with it (vecgo refcounts
      // everything reachable, engine.go:2048-2108)
      if (new Path(p).getName.startsWith("seg-"))
        f.delete(new Path(lexDeltaDir(p)), true)
    }
    (0L until keepFrom).foreach(v => f.delete(manifestPath(v), false))
  }

  /** Orphan cleanup (vecgo W11): remove `seg-*`/`del-*`/`idx-*` artifacts
    * not referenced by ANY surviving manifest — crash leftovers from
    * interrupted commits and losers of commit races — plus `lexdelta-*`
    * lexical deltas whose segment is gone.
    */
  def cleanOrphans(): Unit = {
    val f = fs
    val live = versions().toSet
    val all = live.toSeq.flatMap(manifest(_))
    val referenced = all
      .flatMap(m => m.segments.map(_.path) ++ m.deletes.map(_.path) ++
        m.segments.flatMap(_.index.map(_.metaPath)))
      .map(p => new Path(p).getName).toSet
    val listed = f.listStatus(new Path(root)).map(_.getPath)
      .filter(p => p.getName.startsWith("seg-") || p.getName.startsWith("del-") ||
        p.getName.startsWith("idx-"))
    listed.filterNot(p => referenced.contains(p.getName))
      .foreach(p => f.delete(p, true))
    // a lexical delta is an orphan exactly when its segment is — same
    // rule, keyed by the shared dir-name suffix; crashed/raced delta
    // builds leave hidden `.lexdelta-tmp-*` dirs, reclaimed only past an
    // AGE GATE so a build that is in flight right now (Spark jobs take
    // seconds) is never deleted under its writer
    val tmpCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    f.listStatus(new Path(root))
      .filter { st =>
        val nm = st.getPath.getName
        (nm.startsWith("lexdelta-") && !referenced.contains(
          "seg-" + nm.stripPrefix("lexdelta-"))) ||
        (nm.startsWith(".lexdelta-tmp-") &&
          st.getModificationTime < tmpCutoff)
      }
      .foreach(st => f.delete(st.getPath, true))
  }
}
