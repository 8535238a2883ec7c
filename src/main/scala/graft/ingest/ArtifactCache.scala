package graft.ingest

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The write-once lifecycle for derived data: every materialized
  * artifact and ingest fixture is one [[Artifact]] value, built at
  * most once and read thereafter.
  *
  * Path: `target/graft_<name>/<basename(dir)>_<token>`, relative to
  * the working directory. The token fingerprints (a) the source table
  * files the artifact derives from — file name, size, mtime of every
  * parquet part — and (b) an algorithm signature (the constants whose
  * change invalidates it) plus [[LayoutVersion]]. A changed corpus, a
  * regenerated or different testdata dir sharing a basename, or a
  * parameter bump then lands on a FRESH dir and rebuilds, instead of
  * silently serving stale derived data. Superseded dirs become inert
  * files under target/ (`rm -rf target/graft_*` clears them all).
  *
  * Publish: the build fills a temp sibling, which is atomically
  * renamed into place, so the directory's existence IS completeness —
  * a reader sees no dir (and builds) or a complete one, in this JVM
  * and across processes. A failed build leaves nothing behind.
  */
object ArtifactCache {

  /** Part of every token. Bump it when the on-disk protocol changes:
    * version 2 is the temp-sibling + rename publish; directories
    * written in place under version 1 (complete only once a
    * `_SUCCESS` marker appeared) can never be read as complete. */
  private val LayoutVersion = 2

  /** One derived dataset of a scale dir: `name` names its family dir
    * under target/, `tables` are the source tables of the scale dir
    * it derives from, `signature` the constants it depends on. */
  final case class Artifact(name: String, tables: Seq[String], signature: String) {
    def path(dir: String): String =
      s"target/graft_$name/${new java.io.File(dir).getName}_" +
        token(dir, tables, s"$signature;layout=$LayoutVersion")

    /** Return [[path]], first running `build(tmp)` — which must write
      * the whole artifact under the directory `tmp` — and publishing
      * `tmp` there if the artifact does not exist yet. */
    def ensure(dir: String)(build: String => Unit): String = {
      val p = path(dir)
      publish(Paths.get(p))(build)
      p
    }
  }

  /** PER-PATH build serialization: concurrent first callers of the
    * same artifact in one JVM (parallel specs sharing one session)
    * build it once — the losers wait and then see the winner's
    * published dir. Keyed by the normalized absolute path, so only
    * same-artifact builders serialize and unrelated first builds run
    * in parallel. One lock per distinct artifact path per JVM, never
    * evicted (eviction would reopen the race). */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  private def publish(out: Path)(build: String => Unit): Unit =
    if (!Files.exists(out)) {
      val lock = buildLocks.computeIfAbsent(out.toAbsolutePath.normalize.toString,
        _ => new java.util.concurrent.locks.ReentrantLock())
      lock.lock()
      try if (!Files.exists(out)) {
        Files.createDirectories(out.getParent)
        val tmp = Files.createTempDirectory(out.getParent, s"${out.getFileName}.tmp")
        try {
          build(tmp.toString)
          // same filesystem → rename(2): fails on a non-empty target
          Files.move(tmp, out, StandardCopyOption.ATOMIC_MOVE)
        } catch {
          // another process published first: its dir is complete
          case _: java.io.IOException if Files.isDirectory(out) => deleteTree(tmp)
          case e: Throwable => deleteTree(tmp); throw e
        }
      } finally lock.unlock()
    }

  /** 12-hex-char fingerprint of `dir`'s named source tables plus the
    * algorithm `signature`. Tables may be single parquet files or
    * directories of part files; a missing table contributes nothing
    * (the build itself will fail loudly on a truly absent source). */
  def token(dir: String, tables: Seq[String], signature: String): String = {
    val parts = tables.sorted.flatMap { t =>
      val root = Paths.get(dir, s"$t.parquet")
      val files: Seq[Path] =
        if (Files.isDirectory(root)) {
          val s = Files.walk(root)
          try s.filter(p => Files.isRegularFile(p)).sorted()
            .toArray.toSeq.map(_.asInstanceOf[Path])
          finally s.close()
        } else if (Files.exists(root)) Seq(root)
        else Seq.empty
      files.map(p => s"$t:${p.getFileName}:${Files.size(p)}:" +
        s"${Files.getLastModifiedTime(p).toMillis}")
    }
    val basis = (parts :+ s"sig=$signature").mkString("|")
    java.security.MessageDigest.getInstance("MD5")
      .digest(basis.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.take(12)
  }

  /** Recursively delete a directory tree (or a file), deepest-first;
    * a missing path is a no-op. The one tree delete of the main tree:
    * failed-build temp dirs here, streaming transport and staging
    * roots, the bucketed tables' warehouse dirs. */
  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p): Unit)
      finally s.close()
    }
}
