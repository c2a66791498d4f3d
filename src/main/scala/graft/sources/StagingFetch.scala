package graft.sources

import java.io.{IOException, InputStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** S2: remote fetch → staging (tasks/extract.py:9-32,
  * utils/utils_extract.py:7-31) — the last SURVEY §2.1 row.
  *
  * The reference downloads each report from SFTP into a local staging dir
  * before parsing, because pandas needs a local file. A distributed engine
  * reads sources in place, so the engine-default path skips the hop
  * entirely (the §2.1 divergence the pipeline has carried since round 1)
  * — but the OPERATIONAL semantics the reference's extract task encodes
  * are real whenever the source endpoint is one Spark cannot mount:
  *
  *  - bounded retries with a delay (`@task(retries=2,
  *    retry_delay_seconds=60)`, tasks/extract.py:9);
  *  - the staged file must appear ATOMICALLY — a crashed download must
  *    never leave a half-file where the scan glob will pick it up (the
  *    reference gets this for free only because a crashed Prefect task
  *    reruns; a shared staging dir does not);
  *  - integrity: a fetch that delivered fewer bytes than the remote
  *    advertises is a failure, not a success;
  *  - idempotency: re-fetching an already-staged file (the 2-day
  *    system-failure replay, README.md:110-115) reuses it instead of
  *    re-downloading.
  *
  * Transport is pluggable so the engine stays dependency-free: production
  * wires an SFTP/S3/HTTP transport where the environment provides one;
  * [[HadoopFsTransport]] covers every scheme the Hadoop FileSystem API
  * mounts (file://, hdfs://, s3a://, ...) and is what the spec drives.
  * Driver-side by design, like the reference's extract task and the
  * PostProcess archive/zip family — this is pipeline plumbing around the
  * dataflow, not a dataflow operator.
  */
object StagingFetch {

  /** Minimal transport surface: a byte stream plus (when the protocol
    * offers one) the advertised remote size for the integrity check.
    */
  trait Transport {
    def open(uri: String): InputStream
    /** Advertised remote byte count, if the transport can know it. */
    def size(uri: String): Option[Long]
  }

  /** The Hadoop FileSystem transport: every scheme a Spark deployment can
    * already reach (file, hdfs, s3a, abfs, ...) without new dependencies.
    */
  final class HadoopFsTransport(conf: org.apache.hadoop.conf.Configuration)
      extends Transport {
    private def fsPath(uri: String) = {
      val p = new org.apache.hadoop.fs.Path(uri)
      (p.getFileSystem(conf), p)
    }
    override def open(uri: String): InputStream = {
      val (fs, p) = fsPath(uri); fs.open(p)
    }
    override def size(uri: String): Option[Long] = {
      val (fs, p) = fsPath(uri); Some(fs.getFileStatus(p).getLen)
    }
  }

  /** Per-basename fetch locks: concurrent [[fetchAll]] workers fetching the
    * SAME staged name would otherwise interleave on one `.partial/<name>`
    * file. Striped on the name and held for the WHOLE fetch — including the
    * retry ladder's sleeps — deliberately: one staged name is the unit of
    * isolation, and a second worker overlapping a retrying first would race
    * the very `.partial` file the retry is about to rewrite. Liveness cost:
    * a same-name peer blocks up to attempts×retryDelay (~2 min at the
    * defaults) — the reference's dispatcher never fetches one file twice
    * concurrently, so this path only matters on operator error. Entries are
    * one small Object per distinct basename, bounded by the day's file
    * names (lock-free removal cannot be made race-safe with
    * computeIfAbsent alone, and is not worth it at that cardinality).
    */
  private val nameLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** One staged fetch. Protocol, in order:
    *
    *  1. If `stagingDir/<name>` exists with the advertised size (or any
    *     size when the transport has none) AND its provenance sidecar
    *     (`stagingDir/.src/<name>`, written in step 5) records THIS remote
    *     URI, REUSE it — the idempotent replay path. A stale complete file
    *     with the WRONG size is re-fetched (the remote was re-uploaded); a
    *     staged file whose sidecar records a DIFFERENT remote URI is a
    *     basename COLLISION and fails loudly — two remote directories
    *     shipping the same filename must not silently alias one staged
    *     copy (round-20 advice item 3); a staged file with NO sidecar
    *     (crash between steps 4 and 5) has unknown provenance and is
    *     re-fetched.
    *  2. Download to `stagingDir/.partial/<name>` — the dot-dir is
    *     invisible to `report_*` scan globs at every crash point.
    *  3. Verify byte count against the transport's advertised size.
    *  4. ATOMIC_MOVE into `stagingDir/<name>`.
    *  5. Write the provenance sidecar.
    *
    * The staged name is the URI's basename, REQUIRED to resolve inside
    * `stagingDir`: a URI path ending in `..` (or an empty/root path) would
    * otherwise escape the staging dir (round-20 advice item 3). The
    * reserved names `.src` and `.partial` are refused too: they are the
    * staging dir's own sidecar and partial dirs.
    *
    * Retries the download+verify `attempts` times total with
    * `retryDelayMs` between tries (the reference's 3-attempt/60 s shape;
    * specs pass 0). Throws IOException after the last attempt — callers
    * in the batch loop record it under the 2-day failure horizon exactly
    * like a parse failure.
    */
  def fetchToStaging(transport: Transport, remoteUri: String,
                     stagingDir: String, attempts: Int = 3,
                     retryDelayMs: Long = 60000L): Path = {
    require(attempts >= 1, s"attempts must be >= 1, got $attempts")
    val name = Option(Paths.get(new java.net.URI(remoteUri).getPath match {
      case p if p != null && p.nonEmpty => p
      case _ => remoteUri
    }).getFileName).map(_.toString).getOrElse(
      // a root/empty URI path ("sftp://host/") has NO basename — fail as a
      // per-file IOException so fetchAll isolation holds, not an NPE
      throw new IOException(s"no staged basename derivable from $remoteUri"))
    val root = Paths.get(stagingDir).toAbsolutePath.normalize()
    val staged = root.resolve(name).normalize()
    if (staged.getParent != root)
      throw new IOException(
        s"unsafe staged name '$name' from $remoteUri: resolves outside $root")
    if (name == ".src" || name == ".partial")
      throw new IOException(
        s"reserved staged name '$name' from $remoteUri: collides with the staging dir's $name dir")
    val lock = nameLocks.computeIfAbsent(name, _ => new Object)
    lock.synchronized {
      val srcDir = root.resolve(".src")
      val sidecar = srcDir.resolve(name)
      def provenance: Option[String] =
        if (Files.exists(sidecar))
          Some(new String(Files.readAllBytes(sidecar), "UTF-8"))
        else None
      val expected = transport.size(remoteUri)
      if (Files.exists(staged)) {
        provenance match {
          case Some(uri) if uri != remoteUri =>
            throw new IOException(
              s"staged basename collision: $name already staged from $uri, " +
                s"refusing to alias it for $remoteUri")
          case Some(_) if expected.forall(_ == Files.size(staged)) =>
            return staged // idempotent replay: same source, size verified
          case _ => () // wrong size (re-uploaded) or no sidecar: re-fetch
        }
      }
      val partialDir = root.resolve(".partial")
      Files.createDirectories(partialDir)
      Files.createDirectories(srcDir)
      val partial = partialDir.resolve(name)
      var lastErr: Option[IOException] = None
      for (attempt <- 1 to attempts) {
        try {
          val in = transport.open(remoteUri)
          try Files.copy(in, partial, StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
          val got = Files.size(partial)
          expected.filter(_ != got).foreach { want =>
            throw new IOException(
              s"short fetch of $remoteUri: got $got bytes, remote advertises $want")
          }
          // same-volume rename: the staged name appears complete or not at all
          Files.move(partial, staged, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          // the sidecar gets the same temp+rename discipline as the data
          // file: a crash mid-write must leave NO sidecar (unknown
          // provenance → re-fetch), never a truncated URI that would read
          // as a permanent bogus "collision" on every future replay
          // namespaced AWAY from data partials (round-20 advice): a remote
          // file literally named "<name>.src" writes its DATA partial at
          // .partial/<name>.src under a DIFFERENT name lock, so sharing that
          // path could interleave two writers and stage corrupted bytes;
          // .partial/.src/<name> is reachable by no data partial
          val sidecarTmpDir = partialDir.resolve(".src")
          Files.createDirectories(sidecarTmpDir)
          val sidecarTmp = sidecarTmpDir.resolve(name)
          Files.write(sidecarTmp, remoteUri.getBytes("UTF-8"))
          Files.move(sidecarTmp, sidecar, StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          return staged
        } catch {
          case e: IOException =>
            lastErr = Some(e)
            if (attempt < attempts && retryDelayMs > 0) Thread.sleep(retryDelayMs)
        }
      }
      throw new IOException(
        s"fetch of $remoteUri failed after $attempts attempts: " +
          lastErr.map(_.getMessage).getOrElse("no attempt ran"), lastErr.orNull)
    }
  }

  /** Fetch a batch of remote files into staging on a bounded worker pool —
    * the reference dispatcher's max_workers=2 fan-out
    * (flows/orchestrator_flow.py:14) — with per-file isolation like the
    * reference's per-file subflows: one bad remote must not sink the day's
    * other files. Returns (staged paths, (uri, error) failures) in input
    * order; the caller records failures under the 2-day retry horizon.
    * Non-IOException failures (programming errors, not remote weather)
    * still propagate, exactly as they did sequentially.
    */
  def fetchAll(transport: Transport, remoteUris: Seq[String],
               stagingDir: String, attempts: Int = 3,
               retryDelayMs: Long = 60000L,
               maxWorkers: Int = 2): (Seq[Path], Seq[(String, String)]) = {
    require(maxWorkers >= 1, s"maxWorkers must be >= 1, got $maxWorkers")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(maxWorkers)
    try {
      val futures = remoteUris.map { uri =>
        uri -> pool.submit(new java.util.concurrent.Callable[Path] {
          override def call(): Path =
            fetchToStaging(transport, uri, stagingDir, attempts, retryDelayMs)
        })
      }
      val results = futures.map { case (uri, f) =>
        try Left(f.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            Option(e.getCause).getOrElse(e) match {
              case io: IOException => Right(uri -> io.getMessage)
              case other =>
                // programming error, not remote weather: stop the queued and
                // in-flight fetches too — plain shutdown() would leave them
                // downloading (and sleeping through retry ladders) detached
                // from any result collection
                pool.shutdownNow()
                throw other
            }
        }
      }
      (results.collect { case Left(p) => p },
        results.collect { case Right(f) => f })
    } finally pool.shutdown()
  }
}
