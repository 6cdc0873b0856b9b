package graft.streaming

import java.nio.file.{Files, FileSystemException, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The createAtomic commit contract: overwrite mode replaces, no-overwrite
  * mode SURFACES an existing destination as Hadoop's
  * FileAlreadyExistsException (HDFSMetadataLog's concurrent-writer guard)
  * instead of silently dropping the write — and never leaves the temp
  * sibling behind in either outcome. */
class NioCheckpointFileManagerSpec extends AnyFunSuite {

  private def mgr(dir: java.nio.file.Path): NioCheckpointFileManager =
    new NioCheckpointFileManager(
      new Path(s"file:${dir.toAbsolutePath}"), new Configuration())

  private def write(m: NioCheckpointFileManager, p: Path, body: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(body.getBytes("UTF-8"))
    out.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private def names(dir: JPath): List[String] = {
    val entries = Files.list(dir)
    try entries.iterator().asScala.map(_.getFileName.toString).toList
    finally entries.close()
  }

  test("overwriteIfPossible=true replaces an existing destination") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("offsets")}")
    write(m, dst, "v1", overwrite = true)
    write(m, dst, "v2", overwrite = true)
    assert(read(dir.resolve("offsets")) == "v2")
  }

  test("overwriteIfPossible=false commits a fresh destination") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    write(m, new Path(s"file:${dir.resolve("batch-0")}"), "first", overwrite = false)
    assert(read(dir.resolve("batch-0")) == "first")
  }

  test("overwriteIfPossible=false on an existing destination throws " +
      "FileAlreadyExistsException and keeps the first write") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("batch-1")}")
    write(m, dst, "winner", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, dst, "loser", overwrite = false)
    }
    assert(read(dir.resolve("batch-1")) == "winner")
  }

  test("no temp sibling survives a commit, a conflict, or a cancel") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = mgr(dir)
    val dst = new Path(s"file:${dir.resolve("commit-log")}")
    write(m, dst, "a", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(m, dst, "b", overwrite = false)
    }
    write(m, dst, "c", overwrite = true)
    val cancelled = m.createAtomic(dst, overwriteIfPossible = true)
    cancelled.write("d".getBytes("UTF-8"))
    cancelled.cancel()
    assert(names(dir) == List("commit-log"), s"unexpected leftovers: ${names(dir)}")
    assert(read(dir.resolve("commit-log")) == "c")
  }

  test("a mount that refuses link(2) with a FileSystemException falls back to " +
      "check-then-move: fresh commits land, conflicts still surface") {
    val dir = Files.createTempDirectory("nio_ckpt_spec")
    val m = new NioCheckpointFileManager(
        new Path(s"file:${dir.toAbsolutePath}"), new Configuration()) {
      override private[streaming] def createLink(link: JPath, target: JPath): Unit =
        throw new FileSystemException(link.toString, target.toString, "Operation not permitted")
    }
    val dst = new Path(s"file:${dir.resolve("batch-2")}")
    write(m, dst, "first", overwrite = false)
    assert(read(dir.resolve("batch-2")) == "first")
    intercept[FileAlreadyExistsException] {
      write(m, dst, "second", overwrite = false)
    }
    assert(read(dir.resolve("batch-2")) == "first")
    assert(names(dir) == List("batch-2"), s"unexpected leftovers: ${names(dir)}")
  }
}
