package graft.sources

import java.io.{IOException, InputStream}
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.StagingFetch.{HadoopFsTransport, Transport}

/** S2 staging fetch: atomic arrival, integrity verify, bounded retries,
  * idempotent replay — the reference's extract-task semantics
  * (tasks/extract.py:9-32) behind a pluggable transport. Pure JVM, no
  * SparkSession needed (driver-side pipeline plumbing).
  */
class StagingFetchSpec extends AnyFunSuite {

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  private def writeRemote(dir: String, name: String, content: String) = {
    val p = Paths.get(dir, name)
    Files.writeString(p, content)
    p.toUri.toString
  }

  private val conf = new org.apache.hadoop.conf.Configuration()

  test("happy path: fetches via the Hadoop FS transport, atomic name, content intact") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    val uri = writeRemote(remote, "report_a.txt", "email,jyv\nx@y.z,1\n")
    val staged = StagingFetch.fetchToStaging(
      new HadoopFsTransport(conf), uri, staging, attempts = 1, retryDelayMs = 0)
    assert(staged == Paths.get(staging, "report_a.txt"))
    assert(Files.readString(staged) == "email,jyv\nx@y.z,1\n")
    // nothing half-written where a report_* scan glob would see it
    assert(!Files.exists(Paths.get(staging, ".partial", "report_a.txt")))
  }

  test("idempotent replay: a complete staged file with the advertised size is reused") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    val uri = writeRemote(remote, "report_b.txt", "same bytes")
    val t = new HadoopFsTransport(conf)
    val first = StagingFetch.fetchToStaging(t, uri, staging, 1, 0)
    val beforeMtime = Files.getLastModifiedTime(first)
    Thread.sleep(10)
    val second = StagingFetch.fetchToStaging(t, uri, staging, 1, 0)
    assert(second == first)
    assert(Files.getLastModifiedTime(first) == beforeMtime,
      "replay re-downloaded an already-staged complete file")
    // a stale staged file with the WRONG size is re-fetched, not reused
    Files.writeString(first, "stale and longer than the remote")
    StagingFetch.fetchToStaging(t, uri, staging, 1, 0)
    assert(Files.readString(first) == "same bytes")
  }

  test("short fetch fails the integrity check; bounded retries then IOException; no staged file") {
    val staging = tmpDir("sf_staging")
    var calls = 0
    val truncating = new Transport {
      override def open(uri: String): InputStream = {
        calls += 1
        new java.io.ByteArrayInputStream("shrt".getBytes("UTF-8"))
      }
      override def size(uri: String): Option[Long] = Some(999L)
    }
    val e = intercept[IOException] {
      StagingFetch.fetchToStaging(truncating, "sftp://host/report_c.txt",
        staging, attempts = 3, retryDelayMs = 0)
    }
    assert(e.getMessage.contains("after 3 attempts"), e.getMessage)
    assert(calls == 3, s"expected 3 bounded attempts, saw $calls")
    assert(!Files.exists(Paths.get(staging, "report_c.txt")),
      "a failed fetch must not leave a visible staged file")
  }

  test("transient failure recovers within the retry budget") {
    val staging = tmpDir("sf_staging")
    var calls = 0
    val flaky = new Transport {
      override def open(uri: String): InputStream = {
        calls += 1
        if (calls < 3) throw new IOException("connection reset")
        new java.io.ByteArrayInputStream("payload".getBytes("UTF-8"))
      }
      override def size(uri: String): Option[Long] = Some(7L)
    }
    val staged = StagingFetch.fetchToStaging(flaky, "sftp://host/report_d.txt",
      staging, attempts = 3, retryDelayMs = 0)
    assert(Files.readString(staged) == "payload")
    assert(calls == 3)
  }

  test("fetchAll isolates per-file failures like the reference's per-file subflows") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    val good1 = writeRemote(remote, "report_e.txt", "e")
    val good2 = writeRemote(remote, "report_f.txt", "f")
    val missing = Paths.get(remote, "report_missing.txt").toUri.toString
    val (ok, failed) = StagingFetch.fetchAll(new HadoopFsTransport(conf),
      Seq(good1, missing, good2), staging, attempts = 2, retryDelayMs = 0)
    assert(ok.map(_.getFileName.toString).toSet == Set("report_e.txt", "report_f.txt"))
    assert(failed.map(_._1) == Seq(missing), s"failures: $failed")
  }

  test("fetchAll runs fetches on a bounded concurrent pool with failure isolation intact") {
    // Both transports BLOCK until two opens are in flight at once: a
    // sequential fetchAll deadlocks into the await timeout, so a green run
    // PROVES max_workers=2 concurrency (the reference dispatcher's fan-out,
    // flows/orchestrator_flow.py:14). A third, failing URI shows per-file
    // isolation still holds under concurrency.
    val staging = tmpDir("sf_staging")
    val gate = new java.util.concurrent.CountDownLatch(2)
    val concurrent = new Transport {
      override def open(uri: String): InputStream = {
        gate.countDown()
        if (!gate.await(5, java.util.concurrent.TimeUnit.SECONDS))
          throw new IOException("no concurrent peer arrived: fetchAll is sequential")
        if (uri.endsWith("bad.txt")) throw new IOException("remote gone")
        new java.io.ByteArrayInputStream("ok".getBytes("UTF-8"))
      }
      override def size(uri: String): Option[Long] = Some(2L)
    }
    val (ok, failed) = StagingFetch.fetchAll(concurrent,
      Seq("sftp://host/a/report_p.txt", "sftp://host/a/report_q.txt",
        "sftp://host/a/bad.txt"),
      staging, attempts = 1, retryDelayMs = 0)
    assert(ok.map(_.getFileName.toString).toSet == Set("report_p.txt", "report_q.txt"))
    assert(failed.map(_._1) == Seq("sftp://host/a/bad.txt"), s"failures: $failed")
  }

  test("basename collision from a different remote dir is refused, not silently aliased") {
    val staging = tmpDir("sf_staging")
    def fixed(content: String) = new Transport {
      override def open(uri: String): InputStream =
        new java.io.ByteArrayInputStream(content.getBytes("UTF-8"))
      override def size(uri: String): Option[Long] = Some(content.length.toLong)
    }
    val first = StagingFetch.fetchToStaging(fixed("from dir1"),
      "sftp://host/dir1/report_h.txt", staging, 1, 0)
    assert(Files.readString(first) == "from dir1")
    // same basename, same byte count, DIFFERENT remote dir: before the
    // provenance sidecar this silently reused dir1's bytes for dir2
    val e = intercept[IOException] {
      StagingFetch.fetchToStaging(fixed("from dir2"),
        "sftp://host/dir2/report_h.txt", staging, 1, 0)
    }
    assert(e.getMessage.contains("collision"), e.getMessage)
    assert(Files.readString(first) == "from dir1", "collision clobbered the original")
    // the original URI still replays idempotently after the refusal
    val again = StagingFetch.fetchToStaging(fixed("from dir1"),
      "sftp://host/dir1/report_h.txt", staging, 1, 0)
    assert(again == first)
  }

  test("a URI resolving outside the staging dir is refused") {
    val staging = tmpDir("sf_staging")
    val t = new Transport {
      override def open(uri: String): InputStream =
        new java.io.ByteArrayInputStream("x".getBytes("UTF-8"))
      override def size(uri: String): Option[Long] = None
    }
    val e = intercept[IOException] {
      StagingFetch.fetchToStaging(t, "sftp://host/reports/..", staging, 1, 0)
    }
    assert(e.getMessage.contains("resolves outside"), e.getMessage)
    // refused before any transport/filesystem work: staging stayed empty
    assert(Files.list(Paths.get(staging)).count() == 0)
  }

  test("the reserved staged basenames .src and .partial are refused per file") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    val good = writeRemote(remote, "report_ok.txt", "fine")
    val reserved = Seq(".src", ".partial").map(n => writeRemote(remote, n, "clobber"))
    val (staged, failed) = StagingFetch.fetchAll(
      new HadoopFsTransport(conf), good +: reserved, staging, 1, 0)
    assert(staged.map(_.getFileName.toString) == Seq("report_ok.txt"))
    assert(failed.map(_._1) == reserved)
    failed.foreach { case (_, msg) => assert(msg.contains("reserved staged name"), msg) }
    // the sidecar dir still holds only the good file's provenance
    assert(Files.isDirectory(Paths.get(staging, ".src")))
    assert(Files.readString(Paths.get(staging, ".src", "report_ok.txt")) == good)
  }

  test("a staged file with no provenance sidecar (pre-sidecar residue) is re-fetched") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    val uri = writeRemote(remote, "report_i.txt", "fresh copy")
    // unknown-origin staged file of exactly the advertised size
    Files.writeString(Paths.get(staging, "report_i.txt"), "stale orig")
    val staged = StagingFetch.fetchToStaging(
      new HadoopFsTransport(conf), uri, staging, 1, 0)
    assert(Files.readString(staged) == "fresh copy",
      "sidecar-less staged file was trusted instead of re-fetched")
  }

  test("crash residue in .partial is invisible to scan globs and overwritten by the next fetch") {
    val remote = tmpDir("sf_remote"); val staging = tmpDir("sf_staging")
    // simulate a crashed earlier attempt: half-file parked under .partial
    Files.createDirectories(Paths.get(staging, ".partial"))
    Files.writeString(Paths.get(staging, ".partial", "report_g.txt"), "half")
    val uri = writeRemote(remote, "report_g.txt", "complete content")
    // the scan-glob view of staging contains nothing before the fetch
    val visible = Files.list(Paths.get(staging)).filter(p =>
      !Files.isDirectory(p)).count()
    assert(visible == 0, "crash residue leaked into the scan-visible staging root")
    val staged = StagingFetch.fetchToStaging(
      new HadoopFsTransport(conf), uri, staging, 1, 0)
    assert(Files.readString(staged) == "complete content")
  }
}
