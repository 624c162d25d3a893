package graft

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Artifacts

/** The artifact store on small local file trees; no lane runs here. Each
  * test writes under its own family name, so the process-wide memo never
  * carries one test's state into another. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {
  var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.builder("local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** A one-file artifact holding `body`; [[read]] returns it. */
  private def write(path: String, body: String): Unit = {
    Files.createDirectories(Paths.get(path))
    Files.writeString(Paths.get(path, "part-0"), body): Unit
  }
  private def read(path: String): String = Files.readString(Paths.get(path, "part-0"))

  /** relative path → bytes of every file under `root`, `.crc` files excluded */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    val files = Files.walk(base)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map((p: JPath) => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally files.close()
  }

  test("the root exists and is registered for deletion at exit") {
    val root = new Path(Artifacts.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getFileStatus(root).isDirectory)
    assert(Artifacts.path("fam", "/a/sf0.1") == s"${Artifacts.root}/fam__a_sf0_1")
    assert(Artifacts.path("fam") == s"${Artifacts.root}/fam")
    // cancelDeleteOnExit answers whether the path was registered
    assert(fs.cancelDeleteOnExit(root), "root not registered with deleteOnExit")
    assert(fs.deleteOnExit(root))
  }

  test("ensure builds exactly once under 8 concurrent callers") {
    val path = Artifacts.path("spec_once")
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val done = (1 to 8).map(_ => pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          Artifacts.ensure(path) { builds.incrementAndGet(); Thread.sleep(50); write(path, "once") }
        }
      }))
      start.countDown()
      done.foreach(_.get(60, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(builds.get == 1)
    assert(read(path) == "once")
    Artifacts.ensure(path)(fail("a memoized path built again"))
    Artifacts.delete(path)
  }

  test("build always rebuilds and feeds the memo") {
    val path = Artifacts.path("spec_build")
    for (n <- 1 to 3) Artifacts.build(path)(write(path, s"v$n"))
    assert(read(path) == "v3")
    Artifacts.ensure(path)(fail("ensure rebuilt a path build already wrote"))
    Artifacts.delete(path)
    assert(!Artifacts.exists(path))
  }

  test("publish replaces the target, clears a stale _retired, and leaves none") {
    val target = Artifacts.path("spec_publish")
    write(target, "old")
    // a retired copy left by an earlier crash between the two renames
    write(target + "_retired", "older")
    write(target + "_staged", "new")
    Artifacts.publish(target + "_staged", target)
    assert(read(target) == "new")
    assert(!Artifacts.exists(target + "_retired"))
    assert(!Artifacts.exists(target + "_staged"))
    Artifacts.delete(target)
  }

  test("publish of a missing staged directory fails loudly and keeps the old artifact") {
    val target = Artifacts.path("spec_publish_missing")
    write(target, "old")
    val e = intercept[IllegalArgumentException](Artifacts.publish(target + "_staged", target))
    assert(e.getMessage.contains("nothing staged"))
    assert(read(target) == "old")
    Artifacts.delete(target)
  }

  test("a working copy is byte-identical to its pristine build, on every call") {
    val pristine = Artifacts.path("spec_pristine")
    val work = Artifacts.path("spec_work")
    val builds = new AtomicInteger
    // a partitioned table's shape: nested directories, binary files, a marker
    def build(p: String): Unit = {
      builds.incrementAndGet()
      val rnd = new scala.util.Random(7)
      for (part <- 0 until 4) {
        val d = Files.createDirectories(Paths.get(p, s"part=$part"))
        Files.write(d.resolve(s"data-$part.bin"), Array.fill(1000 + part)(rnd.nextInt().toByte))
      }
      Files.write(Paths.get(p, "_SUCCESS"), Array.emptyByteArray): Unit
    }
    Artifacts.workingCopy(pristine, work)(build)
    val want = tree(pristine)
    assert(want.size == 5 && want.keySet.contains("part=3/data-3.bin"))
    assert(tree(work) == want)
    // a mutated working copy is replaced by a fresh copy on the next call
    write(s"$work/part=0", "appended")
    assert(tree(work) != want)
    Artifacts.workingCopy(pristine, work)(build)
    assert(tree(work) == want)
    assert(builds.get == 1)
    Seq(pristine, work).foreach(Artifacts.delete)
  }
}
