package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Pluggable manifest-publication CAS — the one primitive
  * [[SnapshotStore.commit]] needs to be safe under concurrent writers:
  * atomically materialize `bytes` at `dest` iff nothing exists there, or
  * fail loudly.
  *
  * Why pluggable: the store's historical CAS (write a temp file, then
  * `FileContext.rename(..., Rename.NONE)`) is atomic on HDFS (on the
  * local FS [[CommitGuard.RenameCas]] hard-links instead), but on S3A a
  * rename is COPY + DELETE and the no-overwrite precondition is a
  * client-side exists() check — a TOCTOU window in which two writers
  * that derived the same version from the same parent can BOTH believe
  * they won, silently forking the manifest chain. The reference ships
  * dedicated machinery for exactly this (vecgo
  * `blobstore/s3/ddb_commit_store.go` — DynamoDB conditional put;
  * `blobstore/s3/express_store.go` — S3 conditional PUT): the commit
  * point must be a true compare-and-set on the backing store.
  *
  * Two implementations:
  *   - [[CommitGuard.RenameCas]] (default on `file`/`hdfs`/`viewfs`):
  *     temp write + atomic no-overwrite rename (a hard link on the
  *     local FS). The temp file keeps a torn MANIFEST body from ever
  *     appearing at the final name on a crash.
  *   - [[CommitGuard.ConditionalCreate]] (default on object-store
  *     schemes): `create(dest, overwrite = false)` + write + close, with
  *     every already-exists/precondition failure surfaced as the loss
  *     signal. On S3A with conditional writes enabled (Hadoop ≥ 3.4.1,
  *     `fs.s3a.create.conditional.enabled`, default on) the close() maps
  *     to a single `PutObject If-None-Match: *` — an atomic server-side
  *     CAS, and since an S3 PUT is all-or-nothing there is no torn-body
  *     window either. On filesystems whose exclusive create is itself
  *     checked server-side (HDFS) this is equally safe, even though the
  *     file is visible, partial, between create() and close(): the guard
  *     does not [[CommitGuard.publishesWhole]], so [[SnapshotStore.commit]]
  *     treats any object at its target version as a lost race and never
  *     deletes a winner's manifest that is still being written. Only on
  *     stores where create(overwrite=false) degrades to a client-side
  *     exists-check would it inherit the TOCTOU — which is why the
  *     rename variant stays the default where rename IS atomic.
  *
  * The CURRENT pointer swap deliberately stays OUTSIDE the guard: it is
  * a convenience pointer, not the commit point — [[SnapshotStore]]
  * recovers the head by listing `MANIFEST-*.json` whenever CURRENT is
  * missing or stale (`currentVersion`/`readableVersion`), so a
  * non-atomic CURRENT overwrite on an object store costs a listing,
  * never correctness.
  */
trait CommitGuard {

  /** Atomically publish `bytes` at `dest` iff `dest` does not exist.
    *
    * Must throw [[org.apache.hadoop.fs.FileAlreadyExistsException]] (or
    * `java.nio.file.FileAlreadyExistsException`) when another writer's
    * object is already there — [[SnapshotStore.commit]] translates that
    * into its loud `ConcurrentModificationException`. Any bytes the
    * loser staged must not survive at `dest`.
    */
  def publishExclusive(fs: FileSystem, conf: Configuration, root: Path,
      dest: Path, bytes: Array[Byte]): Unit

  /** True when `dest` never holds a partial body: the bytes appear at
    * the final name whole, in one atomic step. Only then can an
    * unparsable object at `dest` be a crashed commit's torn leftover
    * that [[SnapshotStore.commit]] may clear; otherwise it may be
    * another writer's publication still in flight.
    */
  def publishesWhole: Boolean

  def name: String
}

object CommitGuard {

  /** Temp-file write + atomic no-overwrite publish — the HDFS/local-FS
    * CAS. On HDFS `Rename.NONE` is checked by the NameNode. On the local
    * `file` scheme it is not: Hadoop's local rename checks exists() on
    * the client and then calls `File.renameTo`, which replaces the
    * target, and the checksum sidecar moves in a second rename. Two
    * writers could both publish the same version, or leave one's body
    * paired with the other's checksum. Locally the temp file is therefore
    * hard-linked to `dest` (`link(2)` fails atomically when `dest`
    * exists) and then removed.
    */
  object RenameCas extends CommitGuard {
    val name = "rename-cas"
    val publishesWhole = true
    def publishExclusive(fs: FileSystem, conf: Configuration, root: Path,
        dest: Path, bytes: Array[Byte]): Unit = {
      val tmp = new Path(root,
        s".${dest.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, true)
      try out.write(bytes) finally out.close()
      def local(p: Path) = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      try {
        if (fs.getUri.getScheme == "file") {
          java.nio.file.Files.createLink(local(dest), local(tmp))
          fs.delete(tmp, false)
        } else {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            fs.makeQualified(root).toUri, conf)
          fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
            org.apache.hadoop.fs.Options.Rename.NONE)
        }
      } catch { case e: Throwable =>
        try fs.delete(tmp, false)
        catch { case scala.util.control.NonFatal(_) => () }
        throw e
      }
    }
  }

  /** Exclusive `create(dest, overwrite = false)` — the object-store CAS
    * (S3 conditional PUT / HDFS server-checked exclusive create). The
    * conditional check can surface at `create()` (client knows the key
    * exists) or at `close()` (the actual `If-None-Match` PUT): both are
    * normalized to `FileAlreadyExistsException`.
    */
  object ConditionalCreate extends CommitGuard {
    val name = "conditional-create"
    // on HDFS (and the s3sim emulation) the object is visible from
    // create() until close(); only a real S3 PUT is all-or-nothing
    val publishesWhole = false
    def publishExclusive(fs: FileSystem, conf: Configuration, root: Path,
        dest: Path, bytes: Array[Byte]): Unit = {
      warnIfClientSideCas(fs, root)
      def isPrecondition(e: Throwable): Boolean = e match {
        case null => false
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.nio.file.FileAlreadyExistsException => true
        case e: java.io.IOException =>
          val m = if (e.getMessage == null) "" else e.getMessage
          m.contains("PreconditionFailed") || m.contains("412") ||
            m.contains("If-None-Match") || isPrecondition(e.getCause)
        case _ => false
      }
      val out =
        try fs.create(dest, false)
        catch { case e: Throwable if isPrecondition(e) =>
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(
            s"$dest: lost the commit race at create ($name): ${e.getMessage}")
        }
      try {
        try out.write(bytes) finally out.close()
      } catch { case e: Throwable if isPrecondition(e) =>
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$dest: lost the commit race at close ($name): ${e.getMessage}")
      }
    }
  }

  /** Hadoop ≥ 3.4.1 path capability for server-side conditional writes
    * (HADOOP-19256; S3A reports it when
    * `fs.s3a.create.conditional.enabled` is on). Where an object store
    * does NOT report it, `create(dest, overwrite = false)` degrades to
    * the client-side exists-check TOCTOU this guard exists to eliminate
    * — that silent degradation must be loud (round-9 advice).
    */
  val ConditionalCreateCapability = "fs.option.create.conditional.overwrite"

  /** True when the store's exclusive create is checked server-side:
    * either the FS advertises the conditional-write capability, or it is
    * not an object store at all (HDFS/local exclusive create is a true
    * namespace CAS — those FSs never advertise the S3A capability and
    * need no warning).
    */
  def serverSideCas(fs: FileSystem, path: Path): Boolean = {
    val scheme = fs.getUri.getScheme
    if (scheme == null || !ObjectStoreSchemes(scheme.toLowerCase)) true
    else
      try fs.hasPathCapability(path, ConditionalCreateCapability)
      catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Object-store FS URIs already warned about, so the degradation is
    * loud once per store, not once per commit. Visible for specs.
    */
  private[store] val warnedClientSideCas =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def warnIfClientSideCas(fs: FileSystem, root: Path): Unit =
    if (!serverSideCas(fs, root)) {
      val key = fs.getUri.toString
      if (warnedClientSideCas.add(key))
        org.slf4j.LoggerFactory.getLogger(classOf[CommitGuard]).warn(
          s"$key does not advertise '$ConditionalCreateCapability' " +
            "(needs Hadoop >= 3.4.1 with fs.s3a.create.conditional.enabled" +
            "=true): exclusive create degrades to a client-side exists() " +
            "check, so two racing writers CAN fork the manifest chain. " +
            "Enable server-side conditional writes, or serialize writers " +
            "externally.")
    }

  /** Schemes whose FileSystem rename is not atomic (object stores): the
    * conditional-create guard is the default there.
    */
  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs",
      "oss", "cos", "swift")

  /** Default guard for an FS scheme: rename-CAS wherever rename is
    * atomic, conditional-create on known object stores.
    */
  def forScheme(scheme: String): CommitGuard =
    if (scheme != null && ObjectStoreSchemes(scheme.toLowerCase))
      ConditionalCreate
    else RenameCas
}
