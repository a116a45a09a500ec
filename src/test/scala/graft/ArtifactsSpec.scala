package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** `Artifacts.ensure`'s build-once contract on plain files: the writer
  * runs once per key, a failed write leaves nothing behind, an
  * uncommitted leftover is rebuilt, and of two concurrent builders of
  * one key the first commit wins. The sweep of stale generations is
  * covered by DedupSpec ("rebuilding a fixture leaves one live
  * shingle-index generation"). */
class ArtifactsSpec extends AnyFunSuite {

  /** One artifact family keyed on `sfDir/src.bin`. */
  private final case class Family(sfDir: String, name: String) {
    def path: String = Artifacts.path(name, sfDir, "src.bin", "v1")
    def ensure(write: String => Unit): String =
      Artifacts.ensure(name, sfDir, "src.bin", "v1")(write)
  }

  /** A fresh family over a new source dir holding one keyed file. */
  private def family(): Family = {
    val sfDir = Files.createTempDirectory("graft_artifacts_src").toString
    Files.writeString(new File(s"$sfDir/src.bin").toPath, "source")
    Family(sfDir, s"graft_artifacts_spec_${java.util.UUID.randomUUID()}/")
  }

  private def siblings(live: String): Seq[String] =
    new File(live).getParentFile.listFiles().map(_.getName).toSeq.sorted

  private def mark(dir: String, name: String): Unit =
    Files.writeString(new File(s"$dir/$name").toPath, name)

  test("the writer runs once across two calls on one key") {
    val f = family()
    val runs = new AtomicInteger()
    val first = f.ensure { tmp => runs.incrementAndGet(); mark(tmp, "a") }
    val second = f.ensure { tmp => runs.incrementAndGet(); mark(tmp, "b") }
    assert(first == second)
    assert(runs.get == 1)
    assert(new File(s"$first/a").isFile && new File(s"$first/_SUCCESS").isFile)
    assert(siblings(first) == Seq(new File(first).getName))
  }

  test("a writer that throws leaves no live dir and no temp; the next call rebuilds") {
    val f = family()
    val path = f.path
    val boom = intercept[IllegalStateException] {
      f.ensure { tmp => mark(tmp, "partial"); throw new IllegalStateException("boom") }
    }
    assert(boom.getMessage == "boom")
    assert(!new File(path).exists())
    assert(siblings(path).isEmpty, siblings(path))
    val rebuilt = f.ensure(tmp => mark(tmp, "whole"))
    assert(rebuilt == path)
    assert(new File(s"$path/whole").isFile && !new File(s"$path/partial").exists())
  }

  test("an uncommitted leftover at the path (no _SUCCESS) is rebuilt") {
    // what a crash between a rename and its marker, or a non-atomic
    // writer, leaves behind: never live, so the next build replaces it
    val f = family()
    val path = f.path
    assert(new File(path).mkdirs())
    mark(path, "partial")
    assert(f.ensure(tmp => mark(tmp, "whole")) == path)
    assert(new File(s"$path/whole").isFile && !new File(s"$path/partial").exists())
    assert(siblings(path) == Seq(new File(path).getName))
  }

  test("of two concurrent builders of one key, the first commit wins") {
    val f = family()
    val started = new CountDownLatch(2)
    val firstListed = new CountDownLatch(1)
    def writer(marker: String, gate: Option[CountDownLatch])(tmp: String): Unit = {
      started.countDown()
      assert(started.await(60, TimeUnit.SECONDS), "writers did not both start")
      gate.foreach(g => assert(g.await(60, TimeUnit.SECONDS)))
      mark(tmp, marker)
    }
    // the second builder starts with the first, but commits only after
    // the first has committed and a reader has listed its generation
    var second: Either[Throwable, String] = Left(new IllegalStateException("not run"))
    val t = new Thread(() =>
      second = try Right(f.ensure(writer("second", Some(firstListed))))
      catch { case e: Throwable => Left(e) })
    t.start()
    val live = f.ensure(writer("first", None))
    val listed = new File(live).listFiles().toSeq
    firstListed.countDown()
    t.join(120000)
    assert(!t.isAlive, "second builder did not finish")
    assert(second == Right(live))
    assert(new File(s"$live/first").isFile)
    assert(!new File(s"$live/second").exists())
    listed.foreach(file =>
      assert(file.exists(), s"$file was deleted under a reader"))
    assert(siblings(live) == Seq(new File(live).getName),
      s"expected one live generation and no temp: ${siblings(live)}")
  }
}
