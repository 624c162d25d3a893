package graft

import java.nio.file.{Files, Path}

import org.apache.spark.network.util.JavaUtils

/** Temp directories the specs create and always delete. */
object TempDirs {
  /** Run `body` in a fresh temp directory, then [[delete]] it. */
  def withTempDir[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir) finally delete(dir)
  }

  /** Delete `dir` and everything under it. A Derby database created at
    * `<dir>/db` is shut down first (SQLState 08006 is Derby's
    * clean-shutdown signal), so none of its files stays open. */
  def delete(dir: Path): Unit = {
    if (Files.exists(dir.resolve("db")))
      try java.sql.DriverManager.getConnection(s"jdbc:derby:$dir/db;shutdown=true").close()
      catch { case e: java.sql.SQLException if e.getSQLState == "08006" => () }
    JavaUtils.deleteRecursively(dir.toFile)
  }
}
