package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Shared location, cache key and build-once commit for persisted
  * working-set artifacts: the shingle, fp, minhash and pair indexes, the
  * media artifacts, the IVF and LPA indexes, the BPE merges, the
  * postings and the other content-keyed directories are all built
  * through [[ensure]]; JoinOps' bucketed catalog tables take their
  * names from [[key]].
  *
  * `root` defaults to the JVM temp dir — right for local[*] and CI — and
  * is overridden with SPARK_GRAFT_ARTIFACT_DIR so that on a real cluster
  * the artifacts land on storage every executor and a restarted driver
  * can see (HDFS/NFS mount, fuse-mounted object store). Without that, a
  * driver restart orphans the working sets and every index rebuilds from
  * scratch — correctness survives, the 100 TB economics don't.
  *
  * [[ensure]] owns the whole build-once policy (Luigi's target contract:
  * an artifact exists only once it is written in full):
  *  - key: the artifact lives at `root/<name><key>`, where [[key]] ties
  *    it to the code version, the source dir's path and the source
  *    file's (length, mtime);
  *  - commit: the writer fills a temp sibling `<path>.tmp-<uuid>`, which
  *    gets a `_SUCCESS` marker and is renamed into place, so the path
  *    holds nothing or a complete generation (`flow.DirTarget.exists`);
  *  - first wins: if another builder committed the same key while this
  *    writer ran, its generation stays and this temp is dropped — a
  *    committed generation is never replaced under its readers;
  *  - sweep: every call then retires the family's stale generations
  *    ([[sweepStale]]).
  */
object Artifacts {

  /** Artifact root directory; see object doc for the env override. */
  def root: String = sys.env.getOrElse(
    "SPARK_GRAFT_ARTIFACT_DIR", System.getProperty("java.io.tmpdir"))

  /** Cache key tying an artifact to the CONTENT of its source file, not
    * just its path: code version (bump when the artifact definition
    * changes) + source-dir path hash + the source file's (length, mtime).
    * A fixture regenerated at the same path changes the key, so a stale
    * artifact can never be silently reused; two different source dirs
    * cannot cross-wire through a 32-bit path-hash collision alone (they
    * would also need identical file length and mtime). */
  def key(version: String, sfDir: String, sourceFile: String): String = {
    val f = new java.io.File(s"$sfDir/$sourceFile")
    // a missing source would make length/mtime both 0 — a CONSTANT key
    // that silently defeats the staleness guard (and would pin the first
    // artifact ever built for this dir forever). Fail loudly instead.
    require(f.exists(), s"artifact key source missing: ${f.getPath}")
    s"$version-" +
      java.lang.Integer.toHexString(sfDir.hashCode) + "-" +
      java.lang.Long.toHexString(f.length() ^ (f.lastModified() * 31L))
  }

  /** Where [[ensure]] keeps the artifact `name` built from
    * `sfDir/source`. `name` is the path under `root` up to the key, its
    * separator included (`graft_fp_index/`,
    * `graft_roundtrip/events_by_type_`). */
  def path(name: String, sfDir: String, source: String,
           version: String): String =
    s"$root/$name${key(version, sfDir, source)}"

  /** The committed artifact at [[path]], built by `write` (handed an
    * empty temp dir) unless a complete generation is already there; see
    * the object doc for the commit, first-wins and sweep contract. A
    * writer that throws leaves neither a live dir nor its temp. */
  def ensure(name: String, sfDir: String, source: String, version: String)
            (write: String => Unit): String = {
    val live = path(name, sfDir, source, version)
    val target = flow.DirTarget(live)
    if (!target.exists) {
      val tmp = new java.io.File(s"$live.tmp-${java.util.UUID.randomUUID()}")
      try {
        Files.createDirectories(tmp.toPath)
        write(tmp.getPath)
        val marker = tmp.toPath.resolve("_SUCCESS")
        if (!Files.exists(marker)) Files.createFile(marker)
        // rename(2) refuses a non-empty destination, so a generation
        // another builder committed meanwhile is never replaced
        def publish(): Unit = Files.move(tmp.toPath, Paths.get(live),
          StandardCopyOption.ATOMIC_MOVE)
        try publish() catch {
          case _: java.io.IOException if target.exists => ()
          case _: java.io.IOException =>
            // an uncommitted leftover (no _SUCCESS) was never live
            deleteRecursively(new java.io.File(live))
            try publish()
            catch { case _: java.io.IOException if target.exists => () }
        }
      } finally deleteRecursively(tmp)
    }
    sweepStale(live)
    live
  }

  /** Best-effort GC of STALE artifact generations: content-keyed dirs
    * accumulate one directory per (version, source length/mtime) forever —
    * harmless in a sandbox tmpdir, a slow leak on the shared storage
    * `root` points at on a cluster. Run by [[ensure]] right after the
    * live generation is ensured: deletes every sibling of `artifactPath`
    * that shares its (family, version, sfDir-hash) prefix — everything in
    * the key except the trailing content hash — but is not the live key,
    * so rebuilding a fixture leaves exactly one generation per family.
    * Best-effort on purpose: a delete failure is ignored (another run may
    * sweep it later), and a CONCURRENT run is only exposed if it is still
    * reading a generation whose source fixture was since regenerated —
    * the same staleness the content key exists to retire. */
  private def sweepStale(artifactPath: String): Unit = try {
    val live = new java.io.File(artifactPath)
    val cut = live.getName.lastIndexOf('-')
    // getParentFile is null for a single-segment relative path — inside
    // the best-effort contract that means "nothing to sweep", not NPE
    val parent = Option(live.getParentFile)
    if (cut > 0 && parent.isDefined) {
      val prefix = live.getName.substring(0, cut + 1)
      val dayMs = 24L * 3600 * 1000
      val now = System.currentTimeMillis()
      parent.flatMap(p => Option(p.listFiles())).getOrElse(Array.empty)
        .filter { s =>
          s.getName.startsWith(prefix) && s.getName != live.getName &&
          // NEVER touch FRESH ensure temps ("<key>.tmp-<uuid>"): they
          // match the prefix, and a CONCURRENT builder of the same key
          // may be mid-write in one — deleting it would fail its commit
          // rename. A temp older than a day can only be a crash-abandoned
          // write (ensure's finally removes its own temp on every
          // non-crash path), so age-sweep closes that leak.
          (!s.getName.contains(".tmp-") || now - s.lastModified() > dayMs)
        }
        .foreach(deleteRecursively)
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory)
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
  }
}
