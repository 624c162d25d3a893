package graft.operators

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** The store behind every artifact a lane persists and serves back: the
  * ANN index ([[Similarity]]), the BPE tokenizer ([[Tokenizer]]), the NB
  * model ([[Classifier]]) and the curated corpus ([[Curation]]).
  *
  * Layout: one process root, `<java.io.tmpdir>/graft_p<pid>`, with one
  * child per artifact ([[path]]). The pid keeps two harness processes on
  * one host from overwriting each other's artifact mid-serve; within one
  * process a path is stable, so a rebuild overwrites its previous run
  * instead of accreting. The first call that resolves [[root]] creates it
  * and registers it with `FileSystem.deleteOnExit`. Hadoop deletes it
  * when the cached `FileSystem` is closed, which its own shutdown hook
  * does after Spark's hooks have run. That holds only while nothing
  * closes the cached filesystem earlier (`FileSystem.closeAll`,
  * `fs.close()`): an early close deletes the root under a memo that
  * still says "built".
  *
  * All I/O goes through the `FileSystem` that the active session's Hadoop
  * conf resolves for the path; for `file:` under
  * [[graft.GraftSession.builder]] that is the fork-free
  * [[graft.sources.NioLocalFileSystem]].
  *
  * The memo: every build is deterministic in its input, so a lane whose
  * gated leg is a serve, or a mutation that leaves the built tables
  * alone, re-serves what this process already built ([[ensure]]) instead
  * of re-running the identical build per lane per pass. A fresh process
  * always rebuilds, so the build → serve round trip stays graded per
  * process. A lane that grades the build itself calls [[build]], which
  * always builds and then feeds the memo; a lane that mutates its
  * artifact gets a fresh [[workingCopy]] of a memoized pristine build. */
object Artifacts {
  private final class Once { @volatile var done = false }
  private val memo = new ConcurrentHashMap[String, Once]()

  private def fs(p: Path): FileSystem =
    p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  /** `<java.io.tmpdir>/graft_p<pid>`, created and registered for deletion
    * at exit on first use. */
  lazy val root: String = {
    val p = new Path(System.getProperty("java.io.tmpdir"), "graft_p" + ProcessHandle.current().pid())
    val f = fs(p)
    f.mkdirs(p)
    require(f.deleteOnExit(p), s"Artifacts: cannot register $p for deletion at exit")
    p.toString
  }

  /** `<root>/<family>_<dir>`, `dir` sanitized to a file name (the SF
    * directory a lane reads); `<root>/<family>` when `dir` is empty. */
  def path(family: String, dir: String = ""): String =
    s"$root/$family" + (if (dir.isEmpty) "" else "_" + dir.replaceAll("[^A-Za-z0-9]", "_"))

  /** Run `body` (which writes `path`) unless this process already built it. */
  def ensure(path: String)(body: => Unit): Unit = {
    val once = memo.computeIfAbsent(path, _ => new Once)
    if (!once.done) once.synchronized { if (!once.done) { body; once.done = true } }
  }

  /** Always run `body` (which writes `path`), then record `path` as built. */
  def build(path: String)(body: => Unit): Unit = {
    val once = memo.computeIfAbsent(path, _ => new Once)
    once.synchronized { body; once.done = true }
  }

  /** A fresh file-level copy of the pristine build at `work`: `build`
    * lands `pristine` once per process ([[ensure]]), then every call
    * replaces `work` with a copy. Parquet round-trips bit-exactly, so the
    * copy serves the same state a fresh build would, and the mutate →
    * serve legs still compute per call. */
  def workingCopy(pristine: String, work: String)(build: String => Unit): Unit = {
    ensure(pristine)(build(pristine))
    delete(work)
    val (src, dst) = (new Path(pristine), new Path(work))
    val f = fs(src)
    require(FileUtil.copy(f, src, f, dst, false, f.getConf), s"Artifacts: copy $pristine → $work failed")
  }

  /** Swap the complete artifact at `staged` in for `target` by two
    * renames through `<target>_retired`, then drop the retired copy. A
    * crash before the swap leaves `target` serving untouched; a crash
    * between the renames leaves both complete artifacts on disk, never a
    * half-written one. Hadoop's `rename` moves a source INTO a directory
    * that already exists, so the retired path is cleared first. */
  def publish(staged: String, target: String): Unit = {
    val (s, t, r) = (new Path(staged), new Path(target), new Path(target + "_retired"))
    val f = fs(t)
    require(f.exists(s), s"Artifacts.publish: nothing staged at $staged")
    f.delete(r, true)
    require(f.rename(t, r) && f.rename(s, t), s"Artifacts.publish: swap of $staged onto $target failed")
    f.delete(r, true): Unit
  }

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def delete(path: String): Unit = { val p = new Path(path); fs(p).delete(p, true): Unit }

  def exists(path: String): Boolean = { val p = new Path(path); fs(p).exists(p) }
}
