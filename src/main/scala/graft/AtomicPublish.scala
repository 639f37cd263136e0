package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

/** The one home of scratch and derived data: every scratch dir and
  * derived lake lives under [[Root]], and each lake is published by
  * [[derived]] (built from a source lake) or [[synthetic]] (built from
  * code alone) under one naming rule and one stamp rule.
  *
  * Contract: `dst` is either absent or a COMPLETE publication at all times,
  * so concurrent readers (the DuckDB oracle, a second verify/bench process)
  * never observe a half-written glob. A publication carries a `stamp`
  * (content fingerprint / generation tag) in its completion marker; a
  * present publication with a different stamp is stale — built from other
  * inputs or by older code — and is atomically replaced rather than
  * silently reused.
  *
  * Publishers (not readers) are serialized on a sibling lock file: an
  * unserialized racer could re-check the marker, lose the race to a
  * concurrent winner, and delete the winner's freshly published dir —
  * briefly exposing readers to a partial glob, the exact condition this
  * helper exists to prevent. Under the lock, the marker re-check plus the
  * atomic move keep `dst` either absent or complete. The JVM-level monitor
  * covers same-process threads (FileLock is per-process and throws on
  * overlap).
  */
object AtomicPublish {

  /** The root of every scratch dir and derived lake. */
  val Root = "/tmp"

  /** `<Root>/<name>`. */
  def scratch(name: String): String = s"$Root/$name"

  /** Publish a lake of `kind` derived from source lake `src` at
    * `<Root>/<kind>_<basename>_<hash>`, the hash being the first 8 hex
    * digits of the md5 of `src`'s absolute path: two lakes that share a
    * basename at different paths (a copied sf0.1) do not thrash one dir
    * (ADVICE r15). Stamped `src=<src> md5=<dirFingerprint> [params]
    * gen=<gen>`. Returns the dir.
    */
  def derived(kind: String, src: String, params: String, gen: String)
             (build: String => Unit): String = {
    val f = new java.io.File(src)
    ensure(scratch(s"${kind}_${f.getName}_${md5Hex(f.getAbsolutePath).take(8)}"),
      stamp(s"src=$src md5=${dirFingerprint(src)}", params, gen))(build)
  }

  /** Publish a lake built from code alone at `dir` (a [[scratch]] path),
    * stamped `[params] gen=<gen>`. Returns `dir`.
    */
  def synthetic(dir: String, params: String, gen: String)(build: String => Unit): String =
    ensure(dir, stamp("", params, gen))(build)

  /** The one stamp rule: the source and the parameters, when not empty,
    * then `gen=<gen>`, which names the code that builds the lake.
    */
  private def stamp(src: String, params: String, gen: String): String =
    (Seq(src, params).filter(_.nonEmpty) :+ s"gen=$gen").mkString(" ")

  private val publishMonitor = new Object
  private val MarkerName = "_GRAFT_COMPLETE"

  /** Ensure `dst` holds a complete publication stamped `stamp`; `build`
    * receives a private temp dir and must leave the full content there.
    * The expensive build runs outside the lock (it should not serialize);
    * only the swap is locked. Returns `dst`.
    */
  private[graft] def ensure(dst: String, stamp: String = "")(build: String => Unit): String = {
    val dstPath = Paths.get(dst)
    if (isCurrent(dstPath, stamp)) return dst

    val tag = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
    val tmp = Paths.get(s"$dst.tmp-$tag")
    // A failed build must not leak its private dir: repeated failures of a
    // large publication (the 10x bench lake) would otherwise accumulate
    // orphaned trees (ADVICE r4).
    try {
      build(tmp.toString)
      Files.writeString(tmp.resolve(MarkerName), (stamp +: manifestOf(tmp)).mkString("\n"))
    } catch {
      case t: Throwable => deleteTree(tmp); throw t
    }

    publishMonitor.synchronized {
      val ch = java.nio.channels.FileChannel.open(Paths.get(s"$dst.lock"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock()
        try {
          // While holding the publishers' lock: reap orphans from crashed
          // publishers — a death after the tmp→dst install but before
          // deleteTree(doomed) leaks a $dst.doomed-<pid>-<nano> tree (and
          // a kill -9 mid-build leaks $dst.tmp-…). Tags carry the owner
          // pid; only trees whose owner is dead are swept, so a live
          // concurrent publisher's private dirs are never touched.
          sweepDeadSiblings(dstPath)
          if (isCurrent(dstPath, stamp)) deleteTree(tmp) // another writer won with the same stamp
          else {
            // Stale publication: move it ASIDE first, then install, then
            // delete the doomed copy. `dst` flips old-complete →
            // new-complete with no absent/shrinking window, and an
            // in-flight reader mid-scan of the old part files keeps a
            // stable directory snapshot until the post-swap delete (open
            // handles survive even that on POSIX) instead of having files
            // removed underneath it (ADVICE r4).
            val doomed = Paths.get(s"$dst.doomed-$tag")
            if (Files.exists(dstPath)) Files.move(dstPath, doomed, StandardCopyOption.ATOMIC_MOVE)
            Files.move(tmp, dstPath, StandardCopyOption.ATOMIC_MOVE)
            deleteTree(doomed)
          }
        } finally lock.release()
      } finally ch.close()
    }
    dst
  }

  /** Delete `$dst.doomed-*` / `$dst.tmp-*` siblings whose owning pid (the
    * tag's first component) is no longer alive. Caller holds the publish
    * lock, so no concurrent sweep or install races this.
    */
  private def sweepDeadSiblings(dstPath: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val parent = dstPath.getParent
    if (parent == null || !Files.isDirectory(parent)) return
    val base = dstPath.getFileName.toString
    val prefixes = Seq(s"$base.doomed-", s"$base.tmp-")
    Files.list(parent).iterator().asScala.toSeq.foreach { p =>
      val n = p.getFileName.toString
      prefixes.find(n.startsWith).foreach { pre =>
        val ownerPid = n.stripPrefix(pre).takeWhile(_.isDigit)
        if (ownerPid.nonEmpty) {
          val h = ProcessHandle.of(ownerPid.toLong)
          if (!(h.isPresent && h.get().isAlive)) deleteTree(p)
        }
      }
    }
  }

  /** Marker format: line 1 = stamp, remaining lines = `size\trelpath` for
    * every published regular file. A matching stamp alone is NOT proof of a
    * live publication: /tmp reapers delete large, old data files while
    * keeping the 0-byte marker and small `.crc` siblings, leaving a
    * "complete" directory whose glob matches nothing (observed round 7:
    * the CDC lake's `part-*.txt` vanished under an intact marker). The
    * manifest makes the marker self-validating — any listed file missing
    * or resized means the publication is gone and must be rebuilt.
    */
  private def manifestOf(dir: Path): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != MarkerName)
      .map(p => s"${Files.size(p)}\t${dir.relativize(p)}")
      .toSeq.sorted
  }

  private def isCurrent(dstPath: Path, stamp: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val marker = dstPath.resolve(MarkerName)
    if (!Files.exists(marker)) return false
    val lines = Files.readAllLines(marker).asScala.toSeq
    if (lines.headOption.getOrElse("") != stamp) return false
    val manifest = lines.drop(1)
    if (manifest.nonEmpty) manifest.forall { line =>
      line.split("\t", 2) match {
        case Array(sz, rel) =>
          val f = dstPath.resolve(rel)
          Files.isRegularFile(f) && Files.size(f) == sz.toLong
        case _ => false
      }
    } else {
      // Pre-manifest marker (earlier rounds): trust it only if some
      // non-hidden data file survived alongside it — an empty husk whose
      // large files were reaped must rebuild.
      Files.walk(dstPath).iterator().asScala.exists { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }
    }
  }

  /** Recursively delete `p` if present. */
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
  }

  /** Content fingerprint of a directory tree: md5 over the sorted
    * (relative path, size, mtime) of every regular file. The source part
    * of a [[stamp]], so derived lakes rebuild when their source data
    * changes — e.g. a new round's regenerated testdata — instead of being
    * silently reused.
    */
  private[graft] def dirFingerprint(dir: String): String = {
    import scala.jdk.CollectionConverters._
    val root = Paths.get(dir)
    val entries = Files.walk(root).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => s"${root.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .toSeq.sorted
    md5Hex(entries.mkString("\n"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}
