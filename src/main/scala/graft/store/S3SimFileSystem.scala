package graft.store

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A local filesystem that EMULATES S3's commit-relevant semantics, for
  * deterministic CommitGuard races:
  *
  *   - `rename` of a `MANIFEST-*` file is COPY + DELETE (last writer
  *     wins), like S3A — and the no-overwrite precondition that
  *     `FileContext.rename(..., Rename.NONE)` applies on top is a
  *     client-side exists() check (Hadoop's default
  *     `AbstractFileSystem.renameInternal`), so the rename-CAS commit is
  *     genuinely TOCTOU-racy here, exactly as on S3A.
  *   - `create(path, overwrite = false)` of a `MANIFEST-*` file is an
  *     ATOMIC conditional put (a JVM-wide lock emulating S3's
  *     server-side `If-None-Match: *`), which is what the
  *     conditional-create guard relies on. Both public `create`
  *     overloads take this path: Hadoop dispatches
  *     `FileSystem.create(path, overwrite)` to the 6-argument
  *     `create(Path, Boolean, Int, Short, Long, Progressable)`, which
  *     `RawLocalFileSystem` implements without going through the
  *     `FsPermission` overload. Unlike a real S3 PUT (and like HDFS), the
  *     object is visible, empty or partial, from `create` until `close`.
  *
  * Optional barriers let a spec hold two racing writers at the commit
  * point until both have derived the same parent version — turning a
  * probabilistic race into a deterministic schedule. Non-manifest
  * operations (parquet segment writes, committer renames, CURRENT swap)
  * delegate to the real local FS untouched.
  */
class S3SimFileSystem extends RawLocalFileSystem {
  import S3SimFileSystem._

  override def getUri: URI = URI.create("s3sim:///")
  override def getScheme: String = "s3sim"

  override def rename(src: Path, dst: Path): Boolean = {
    if (!dst.getName.startsWith("MANIFEST-")) return super.rename(src, dst)
    // both racers have passed FileContext's client-side exists() check by
    // the time they get here; hold until the schedule is symmetric
    if (inBarrierScope(dst)) awaitQuietly(manifestRenameBarrier)
    // each PUT is atomic per object (as on real S3) — the emulated defect
    // is strictly the TOCTOU between the exists() check (above, in
    // AbstractFileSystem) and the PUT, never a torn object body
    conditionalPutLock.synchronized {
      if (!exists(src)) return false
      val in = open(src)
      val data =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 8192, false)
          buf.toByteArray
        } finally in.close()
      val out = super.create(dst, true, 8192,
        getDefaultReplication(dst), getDefaultBlockSize(dst), null)
      try out.write(data) finally out.close()
      super.delete(src, false)
      true
    }
  }

  // `FileSystem.create(path, overwrite)` dispatches here, not to the
  // FsPermission overload below — both must take the conditional put
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    conditionalPut(f, overwrite)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    conditionalPut(f, overwrite)(super.create(f, permission, overwrite,
      bufferSize, replication, blockSize, progress))

  private def conditionalPut(f: Path, overwrite: Boolean)(
      put: => FSDataOutputStream): FSDataOutputStream = {
    if (overwrite || !f.getName.startsWith("MANIFEST-")) return put
    if (inBarrierScope(f)) awaitQuietly(manifestCreateBarrier)
    conditionalPutLock.synchronized {
      if (exists(f))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"$f: object exists (emulated If-None-Match precondition)")
      put
    }
  }
}

object S3SimFileSystem {
  /** Emulates the S3 server serializing conditional PUTs. */
  val conditionalPutLock = new Object
  val currentSwapLock = new Object

  @volatile var manifestRenameBarrier: Option[java.util.concurrent.CyclicBarrier] = None
  @volatile var manifestCreateBarrier: Option[java.util.concurrent.CyclicBarrier] = None

  /** Writers that have reached an armed racing barrier. A spec resets it
    * before a race and checks it after, so a barrier that stops engaging
    * fails loudly instead of turning the schedule back into a free race.
    */
  val barrierArrivals = new java.util.concurrent.atomic.AtomicInteger

  /** Barrier SCOPE: only manifest ops under this path trip the racing
    * barriers. s3sim is a shared fixture now (any spec may run a store
    * on it, and sbt runs suites in parallel) — an unscoped barrier lets
    * an unrelated spec's manifest commit fill a race slot and silently
    * de-synchronize the deterministic schedule.
    */
  @volatile var barrierRoot: String = null

  private def inBarrierScope(p: Path): Boolean = {
    val r = barrierRoot
    r != null && p.toUri.getPath.startsWith(r)
  }

  private def awaitQuietly(
      b: Option[java.util.concurrent.CyclicBarrier]): Unit =
    b.foreach { bar =>
      barrierArrivals.incrementAndGet()
      // generous: under a loaded box the second writer can take tens of
      // seconds to reach the commit point; a timeout here silently breaks
      // the deterministic schedule (the race degenerates to sequential)
      try bar.await(90, java.util.concurrent.TimeUnit.SECONDS)
      catch { case scala.util.control.NonFatal(_) => () }
    }

  /** Register the scheme on a Hadoop conf (FileSystem API + FileContext). */
  def register(conf: Configuration): Unit = {
    conf.set("fs.s3sim.impl", classOf[S3SimFileSystem].getName)
    conf.set("fs.AbstractFileSystem.s3sim.impl",
      classOf[S3SimAbstractFs].getName)
  }
}

/** FileContext binding for the s3sim scheme (reflectively constructed by
  * Hadoop; must expose exactly this (URI, Configuration) constructor).
  *
  * CURRENT-pointer swaps (overwrite renames) are serialized JVM-wide:
  * two writers can reach the pointer swap concurrently after the
  * manifest race, and the default `renameInternal(overwrite)` is
  * delete-then-rename — unserialized, the sim would throw incidental
  * already-exists noise where a real object store last-writer-wins the
  * pointer PUT. The pointer is NOT the commit point (the store relists
  * manifests when CURRENT is stale), so last-writer-wins is the honest
  * emulation.
  */
class S3SimAbstractFs(uri: URI, conf: Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new S3SimFileSystem(), conf, "s3sim", false) {

  override def renameInternal(src: Path, dst: Path,
      overwrite: Boolean): Unit =
    if (dst.getName == "CURRENT")
      S3SimFileSystem.currentSwapLock.synchronized {
        super.renameInternal(src, dst, overwrite)
      }
    else super.renameInternal(src, dst, overwrite)
}
