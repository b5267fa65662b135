package graft.streaming

import java.io.IOException
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path => HPath}

/** Filesystem mutations that must not fail silently. Hadoop's
  * `FileSystem.rename`/`delete` return `false` instead of throwing on many
  * stores (HDFS, S3A), so an unchecked call can "promote" a file that never
  * moved and then publish a manifest/pointer naming data that does not
  * exist. Every rename/delete/mkdirs/create on a commit path goes through
  * these helpers, which makes them the crash points of [[injecting]].
  */
private[graft] object FsOps {

  /** The failure [[injecting]] throws in place of a mutation. */
  final class InjectedCrash(msg: String) extends IOException(msg)

  private final class Injector(val failAt: Long) {
    val thread: Thread = Thread.currentThread()
    val seen = new AtomicLong
  }
  private val injector = new AtomicReference[Injector](null)

  /** Deterministic crash injection for commit-protocol specs: run `body`
    * with every mutation through these helpers counted, and the
    * `failAt`-th one throwing [[InjectedCrash]] before it touches the
    * store (`Long.MaxValue` = count only). The crash is sticky, like a
    * process death: every later mutation throws too, so a caller that
    * swallows the first failure cannot carry on past it. Only the calling
    * thread's mutations count, so a concurrent writer cannot shift the
    * crash point. Returns the body's outcome and the number of mutations
    * it reached.
    */
  def injecting[T](failAt: Long)(body: => T): (scala.util.Try[T], Long) = {
    val inj = new Injector(failAt)
    if (!injector.compareAndSet(null, inj))
      throw new IllegalStateException("FsOps.injecting does not nest")
    try (scala.util.Try(body), math.min(inj.seen.get, failAt))
    finally injector.set(null)
  }

  private def mutation(what: String, p: HPath): Unit = {
    val inj = injector.get
    if (inj != null && (inj.thread eq Thread.currentThread()) &&
        inj.seen.incrementAndGet() >= inj.failAt)
      throw new InjectedCrash(s"injected crash at mutation ${inj.failAt}: $what $p")
  }

  /** Read a small control file (pointer, intent, manifest) fully as UTF-8. */
  def readString(fs: FileSystem, p: HPath): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  /** Recursive listing of every `.parquet` file under `dir`.
    * `skipHidden` prunes `_`/`.`-prefixed subtrees (control dirs like
    * `_compact`, `_staging`, `_spark_metadata`) — the shared walker behind
    * Compact/Backfill/Erase/Retention, so a change to what counts as a
    * data file cannot desynchronize the ops that share recovery.
    */
  def walkParquet(fs: FileSystem, dir: HPath, skipHidden: Boolean): Seq[HPath] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (skipHidden && (n.startsWith("_") || n.startsWith("."))) Seq.empty
      else if (st.isDirectory) walkParquet(fs, st.getPath, skipHidden)
      else if (n.endsWith(".parquet")) Seq(st.getPath)
      else Seq.empty
    }

  /** Short-circuiting "does any parquet data file exist under `dir`" —
    * O(depth × dir fanout until first hit), NOT a full lake walk; use for
    * emptiness guards where [[walkParquet]]'s full materialized listing
    * would bill O(total files) just to test non-emptiness.
    */
  def anyParquet(fs: FileSystem, dir: HPath, skipHidden: Boolean): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      if (skipHidden && (n.startsWith("_") || n.startsWith("."))) false
      else if (st.isDirectory) anyParquet(fs, st.getPath, skipHidden)
      else n.endsWith(".parquet")
    }

  /** Rename that throws when the filesystem reports failure. */
  def renameOrThrow(fs: FileSystem, src: HPath, dst: HPath): Unit = {
    mutation("rename", dst)
    if (!fs.rename(src, dst))
      throw new IOException(s"rename failed (returned false): $src -> $dst")
  }

  /** Create `dir` and its missing parents; throws when the store refuses. */
  def mkdirs(fs: FileSystem, dir: HPath): Unit = {
    mutation("mkdirs", dir)
    if (!fs.mkdirs(dir)) throw new IOException(s"mkdirs failed (returned false): $dir")
  }

  /** Delete-if-exists that throws when an existing path fails to delete.
    * (A missing path is success — delete is used for idempotent cleanup.)
    */
  def deleteOrThrow(fs: FileSystem, p: HPath, recursive: Boolean): Unit = {
    mutation("delete", p)
    if (fs.exists(p) && !fs.delete(p, recursive))
      throw new IOException(s"delete failed (returned false): $p")
  }

  /** Move `src` to `dst`, replacing any previous `dst`. An absent `dst`
    * takes a plain `FileSystem.rename`; an existing one (or a plain rename
    * that returns false) takes FileContext rename-with-OVERWRITE — atomic
    * on HDFS and viewfs, and on every store strictly safer than the
    * delete-then-rename idiom (no window where `dst` is absent on stores
    * with atomic rename; throws instead of returning false). The split
    * matters on the local filesystem without native libraries, where the
    * FileContext rename forks a `readlink` per link check (~30 ms a call
    * against ~1 ms for the plain rename).
    */
  def atomicReplace(conf: Configuration, fs: FileSystem, src: HPath, dst: HPath): Unit = {
    mutation("replace", dst)
    if (fs.exists(dst) || !fs.rename(src, dst)) {
      val q = fs.makeQualified(dst)
      val fc = FileContext.getFileContext(q.toUri, conf)
      fc.rename(fs.makeQualified(src), q, Options.Rename.OVERWRITE)
    }
  }

  /** Write `body` to `dst` atomically: create a hidden temp sibling, fsync
    * via close, then rename into place (replacing any previous version).
    */
  def atomicWrite(conf: Configuration, fs: FileSystem, dst: HPath, body: Array[Byte]): Unit = {
    val tmp = new HPath(dst.getParent, s".${dst.getName}.tmp")
    mutation("create", tmp)
    val out = fs.create(tmp, true)
    try out.write(body) finally out.close()
    atomicReplace(conf, fs, tmp, dst)
  }
}
