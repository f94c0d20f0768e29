package graft.ml

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession

/** Store for the persisted per-corpus artifacts (hybrid index, recall
  * truth tables, ExactSubstr gram table): one root, one registry of what
  * is built, one keying + freshness discipline shared by every artifact
  * kind.
  *
  * Keying (ADVICE r10): the artifact dir is the sanitized FULL corpus
  * path plus a SHA-256 prefix of the raw path — the former
  * `Integer.toHexString(path.hashCode)` key could collide across two
  * corpus dirs in one JVM and silently serve the wrong artifact. The key
  * also carries [[FormatVersion]], so a persistent root never serves an
  * artifact written by older builder code.
  *
  * Freshness: each artifact records the content FINGERPRINT of the
  * source tables it derives from — a (path, size, mtime, tail-bytes)
  * walk, the poor man's table-format snapshot id. The tail-bytes signal
  * (last ≤16 bytes per file — for parquet, the end of the compressed
  * footer metadata plus the footer-length word and magic) closes the
  * ADVICE-r11 gap where a same-size same-millisecond overwrite could
  * serve a stale artifact: different content means different footer
  * statistics, so the tail differs even when (size, mtime) do not. The
  * walk stays O(file count) — one pread of 16 bytes per file, never a
  * data scan; at 100 TB the same contract is the warehouse table's
  * snapshot/version id.
  *
  * Cross-process lifecycle (round 12): the fingerprint an artifact was
  * built from is also persisted INSIDE the artifact dir as a
  * `_FINGERPRINT` marker, written last. An ensure() in a fresh JVM whose
  * in-memory registry is empty re-derives the corpus fingerprint,
  * compares it to the marker, and ADOPTS the on-disk artifact without
  * rebuilding iff they match — the second half of the q309 lifecycle
  * (build once per corpus CONTENT, serve from disk, rebuild iff
  * changed), graded end-to-end by q313 and proved against a REAL second
  * JVM by `tools/crossjvm_check.sh` (round 13).
  *
  * Install discipline (round 13, ADVICE r12): the artifact dir name now
  * CARRIES the fingerprint (`kind-vN-key--fp`), so a rebuild for new
  * content installs into a NEW dir and never deletes the live
  * predecessor out from under a concurrent reader that adopted it —
  * the repoint is the name change itself, no symlink needed. Builds
  * land in a sibling temp dir and move into place atomically; losing a
  * cross-process move race means the winner has the SAME content (same
  * fingerprint, it is in the name), so the loser adopts it. The only
  * dir ever deleted before a move is a marker-less one — a partial
  * write no process can have adopted. Superseded-fingerprint siblings
  * are swept lazily after a grace period ([[StaleGraceMs]]) measured
  * from SUPERSESSION, not from install (ADVICE r13: install-time aging
  * would delete a long-installed artifact the instant a successor
  * landed, under a reader that adopted it seconds earlier): the first
  * sweep that observes a superseded sibling stamps a `_SUPERSEDED`
  * marker into it and leaves it; only a sibling whose marker is older
  * than the grace is deleted. The residual is a reader still mid-scan
  * of a STALE artifact more than [[StaleGraceMs]] after its successor
  * appeared (retain-then-sweep, the "retain N old versions" variant of
  * the advice).
  *
  * Root: a per-JVM temp dir by default (removed by a recursive shutdown
  * hook — ADVICE r10: `File.deleteOnExit` cannot remove non-empty dirs),
  * so every process rebuilds from the fixtures exactly once and a
  * forgotten [[FormatVersion]] bump cannot bite. Set
  * `-Dgraft.artifacts.root=…` or `GRAFT_ARTIFACT_ROOT` to a stable path
  * to share warm artifacts ACROSS processes (tests → Verify → Bench pay
  * the ~30 s corpus build once per machine instead of once per JVM).
  * First touch of a persistent root sweeps what no process can use
  * anymore (ADVICE r12): orphaned `.tmp-*` build dirs older than
  * [[TmpSweepMs]] (a hard-killed builder's leftovers — the in-process
  * `finally` only covers thrown builds) and artifact dirs keyed with a
  * superseded [[FormatVersion]] (a version bump used to just stop
  * adopting them, growing the root without bound; a mixed-version
  * deployment that still reads them is the accepted trade the advice
  * names).
  */
object ArtifactStore {
  /** Bumped whenever any builder changes its artifact layout or content
    * contract — part of every artifact key, so a persistent root treats
    * old-format artifacts as absent rather than adopting them. v3:
    * fingerprint-suffixed dir names (round 13). */
  val FormatVersion = 3

  private val MarkerFile = "_FINGERPRINT"
  /** Stamped into a superseded sibling by the first sweep that observes
    * it — the supersession timestamp the grace period runs from. */
  private val SupersededFile = "_SUPERSEDED"

  /** How long a superseded-fingerprint artifact dir is retained after
    * SUPERSESSION is first observed (its `_SUPERSEDED` stamp), for
    * in-flight readers that adopted it. */
  private[graft] val StaleGraceMs: Long = 10L * 60 * 1000
  /** Orphaned `.tmp-*` dirs older than this are swept at persistent-root
    * init (a live build's tmp dir is seconds-to-minutes old). */
  private[graft] val TmpSweepMs: Long = 3L * 60 * 60 * 1000

  private lazy val rootConf: (Path, Boolean) =
    sys.props.get("graft.artifacts.root").orElse(sys.env.get("GRAFT_ARTIFACT_ROOT")) match {
      case Some(p) =>
        val path = Paths.get(p)
        Files.createDirectories(path)
        sweepRoot(path)
        (path, true)
      case None =>
        val p = Files.createTempDirectory("graft-artifacts-")
        Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(p.toFile)))
        (p, false)
    }

  private def root: Path = rootConf._1

  /** Whether artifacts outlive this JVM (configured shared root). */
  def isPersistent: Boolean = rootConf._2

  /** Persistent-root init sweep (see class doc): hard-killed builders'
    * `.tmp-*` leftovers past [[TmpSweepMs]], and artifact dirs whose
    * name carries a FormatVersion other than the current one. Names
    * that match neither pattern are left alone — a shared root should
    * be dedicated, but a stray file in it is not ours to delete. */
  private[graft] def sweepRoot(path: Path): Unit = {
    val now = System.currentTimeMillis()
    val versioned = "^[A-Za-z0-9]+-v(\\d+)-.*".r
    val entries = path.toFile.listFiles()
    if (entries != null) entries.foreach { f =>
      val stale =
        if (f.getName.contains(".tmp-")) now - f.lastModified() > TmpSweepMs
        else f.getName match {
          case versioned(v) => v.toInt != FormatVersion
          case _ => false
        }
      if (stale) deleteRecursively(f)
    }
  }

  private[ml] def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** key prefix (kind-vN-pathkey, root-resolved) -> fingerprint adopted */
  private val built = scala.collection.mutable.HashMap.empty[String, String]
  /** per-artifact-key build locks, so one corpus's multi-second build
    * never blocks another corpus's ensure (ADVICE r11 on q309's global
    * lock — same discipline applied here at the store layer). */
  private val dirLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  private def sha(text: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Collision-proof filesystem key for an arbitrary path: sanitized
    * tail for readability + SHA prefix for uniqueness. Public because
    * the q309/q313 probes key their scratch corpora the same way. */
  def pathKey(d: String): String =
    s"${d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(60)}-${sha(d)}"

  private def keyOf(kind: String, d: String): String =
    s"$kind-v$FormatVersion-${pathKey(d)}"

  /** The full artifact dir for (kind, corpus, fingerprint) — the
    * fingerprint is part of the NAME (round 13; see class doc). */
  private def dirOf(key: String, fp: String): Path = root.resolve(s"$key--$fp")

  /** Last ≤16 bytes of a regular file, hex — the cheap content signal
    * folded into the fingerprint (see class doc). Reads until the
    * buffer fills (a single positional read may legally return short,
    * e.g. on network filesystems — exactly the shared-root deployment;
    * a zero-padded short read would make the fingerprint
    * nondeterministic across walks). */
  private def tailSig(f: Path, size: Long): String = {
    val n = math.min(16L, size).toInt
    if (n == 0) "empty"
    else {
      val ch = java.nio.channels.FileChannel.open(f, StandardOpenOption.READ)
      try {
        val bb = java.nio.ByteBuffer.allocate(n)
        var pos = size - n
        while (bb.hasRemaining) {
          val r = ch.read(bb, pos)
          if (r < 0) bb.limit(bb.position()) // concurrent truncation: stop
          else pos += r
        }
        bb.array().take(bb.position()).map(b => f"$b%02x").mkString
      } finally ch.close()
    }
  }

  /** Content fingerprint of `tables` under corpus dir `d`: every regular
    * file's (relative path, size, mtime, tail bytes), sorted, hashed.
    * O(file count) — no data scan (one 16-byte pread per file). */
  def fingerprint(d: String, tables: Seq[String]): String =
    sha(tables.sorted.flatMap(t => fileSigs(Paths.get(d, t + ".parquet"), t)).mkString("\n"))

  /** The same content fingerprint for one file or directory tree. */
  def fingerprint(path: String): String =
    sha(fileSigs(Paths.get(path), path).mkString("\n"))

  /** The walk behind [[fingerprint]]: one sorted entry per regular file
    * under `p`, or `<label>:absent` when nothing is there. */
  private def fileSigs(p: Path, label: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (!Files.exists(p)) Seq(s"$label:absent")
    else {
      val stream = Files.walk(p)
      try stream.iterator().asScala
        .filter(Files.isRegularFile(_))
        .map { f =>
          val size = Files.size(f)
          s"${p.relativize(f)}:$size:${Files.getLastModifiedTime(f).toMillis}:" +
            tailSig(f, size)
        }
        .toSeq.sorted
      finally stream.close()
    }
  }

  private def markerOf(dir: Path): Option[String] = {
    val m = dir.resolve(MarkerFile)
    if (Files.isRegularFile(m))
      Some(new String(Files.readAllBytes(m), java.nio.charset.StandardCharsets.UTF_8))
    else None
  }

  /** Retain-then-sweep of superseded-fingerprint siblings of `key`, with
    * the grace clock starting at SUPERSESSION (ADVICE r13 — see class
    * doc): a sibling seen superseded for the first time is stamped with
    * [[SupersededFile]] and retained; a sibling whose stamp is older
    * than [[StaleGraceMs]] is deleted. Dir mtime is never used — it
    * records install time, which says nothing about when a successor
    * appeared. Concurrent stampers are harmless (both write the same
    * marker within moments; the clock starts at whichever write wins). */
  private def sweepStaleSiblings(key: String, keepFp: String): Unit = {
    val keep = dirOf(key, keepFp).getFileName.toString
    // A previously superseded dir whose fingerprint is CURRENT again (the
    // revert path: corpus content flips back) keeps its old stamp through
    // the adopt — if it is later superseded a second time, that stale
    // stamp would already be past StaleGraceMs and the first sweep would
    // delete it with zero grace. Clear the keep dir's stamp so each new
    // supersession restarts the grace clock (ADVICE r14).
    try Files.deleteIfExists(dirOf(key, keepFp).resolve(SupersededFile)): Unit
    catch { case _: java.io.IOException => () }
    val prefix = key + "--"
    val now = System.currentTimeMillis()
    val entries = root.toFile.listFiles()
    if (entries != null)
      entries.filter { f =>
        f.getName.startsWith(prefix) && f.getName != keep &&
          !f.getName.contains(".tmp-")
      }.foreach { f =>
        val stamp = new java.io.File(f, SupersededFile)
        if (!stamp.exists())
          // first observation: start the grace clock here, delete nothing
          try Files.write(stamp.toPath, Array.emptyByteArray): Unit
          catch { case _: java.io.IOException => () } // raced a concurrent sweep
        else if (now - stamp.lastModified() > StaleGraceMs) deleteRecursively(f)
      }
  }

  /** Build-once-per-corpus-CONTENT: returns the artifact dir and whether
    * a (re)build fired this call. Resolution order: in-memory registry
    * (warm JVM) → on-disk `_FINGERPRINT` marker (cold JVM, artifact
    * already on disk — adopt without rebuilding) → build into a temp
    * sibling and atomic-move into the fingerprint-named dir. Per-artifact
    * locking: concurrent ensures of DIFFERENT corpora build in parallel;
    * concurrent ensures of the same corpus serialize. A lost
    * cross-process move race adopts the winner (same fingerprint by
    * construction — it is in the dir name) unless the winner is
    * marker-less (a partial write nobody can have adopted), which is
    * replaced. */
  def ensure(s: SparkSession, d: String, kind: String, tables: Seq[String])
      (make: String => Unit): (String, Boolean) = {
    val key = root.resolve(keyOf(kind, d)).toString
    val lock = dirLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val fp = fingerprint(d, tables)
      val target = dirOf(keyOf(kind, d), fp)
      val dir = target.toString
      if (built.synchronized(built.get(key)).contains(fp)) (dir, false)
      else if (markerOf(target).contains(fp)) {
        built.synchronized { built(key) = fp }
        sweepStaleSiblings(keyOf(kind, d), fp)
        (dir, false)
      } else {
        val tmp = Paths.get(dir + s".tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
        try {
          make(tmp.toString)
          Files.createDirectories(tmp) // a builder that wrote nothing still markers
          Files.write(tmp.resolve(MarkerFile),
            fp.getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
          try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          catch { case _: java.io.IOException =>
            // lost a cross-process move race, or the fp-named target holds
            // a partial predecessor: a marker means the winner finished the
            // SAME content (fp is in the name) — adopt it; marker-less
            // means a half-write no process can have adopted — replace it
            // (the only delete-before-move left, and it never hits a live
            // artifact)
            if (markerOf(target).contains(fp)) deleteRecursively(tmp.toFile)
            else { deleteRecursively(target.toFile); Files.move(tmp, target): Unit }
          }
        } finally
          // a build that threw mid-make must not leak its .tmp dir into a
          // persistent root (the nano-suffixed name matches no in-process
          // cleanup; the init-time sweep would only catch it hours later)
          if (Files.exists(tmp)) deleteRecursively(tmp.toFile)
        built.synchronized { built(key) = fp }
        sweepStaleSiblings(keyOf(kind, d), fp)
        (dir, true)
      }
    }
  }

  /** Drop the registry entry AND every on-disk fingerprint version of
    * the artifact so the next ensure truly rebuilds — ScaleAudit uses
    * this to time the build itself at each scale point (memo-only
    * removal would just re-adopt the disk copy via its marker; leaving
    * any fp-named sibling would too, since the dir name IS the lookup). */
  def invalidate(d: String, kind: String): Unit = {
    val key = root.resolve(keyOf(kind, d)).toString
    built.synchronized { built.remove(key): Unit }
    val prefix = keyOf(kind, d) + "--"
    val entries = root.toFile.listFiles()
    if (entries != null)
      entries.filter(_.getName.startsWith(prefix)).foreach(deleteRecursively)
  }

  /** Drop ONLY the in-memory registry entry, leaving the on-disk
    * artifact and its marker intact — byte-identical to what a process
    * restart with a persistent root sees, which is how q313 grades the
    * cold-JVM adopt/stale paths inside one test JVM (and what
    * `tools/crossjvm_check.sh` proves with a real second JVM). */
  def dropMemo(d: String, kind: String): Unit = {
    val key = root.resolve(keyOf(kind, d)).toString
    built.synchronized { built.remove(key): Unit }
  }

  /** Remove every artifact (all kinds, all fingerprints) derived from
    * corpus dir `d` — scratch-corpus probes (q309/q313) call this from
    * their shutdown hook so a persistent root never accumulates per-run
    * temp-corpus artifacts. */
  def dropForCorpus(d: String): Unit = {
    val keyTail = "-" + sha(d)
    built.synchronized {
      built.keys.filter(_.endsWith(keyTail)).toSeq.foreach(built.remove)
    }
    val dirMark = keyTail + "--"
    val entries = root.toFile.listFiles()
    if (entries != null)
      entries.filter(f => f.getName.contains(dirMark) ||
          f.getName.endsWith(keyTail)) // pre-v3 layout leftovers
        .foreach(deleteRecursively)
  }
}
