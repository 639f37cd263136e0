package graft

import java.nio.file.{Files, Paths}

import graft.operators.{EnvelopeQueries, StreamingQueries}
import graft.streaming.{BoundedStream, DocStream, Scd2Streaming}

/** First-writer-wins publication with content stamps: complete-or-absent
  * visibility, reuse on matching stamp, rebuild on mismatch (the ADVICE r3
  * ScaleSmoke defect — a stale scaled lake from older testdata was
  * silently reused because the marker carried no provenance); and the one
  * naming and stamp rule of derived and synthetic lakes.
  */
class AtomicPublishSpec extends SparkSuite {

  private def freshDst(): String = Paths.get(SparkSuite.scratchDir("atomicpub"), "pub").toString

  /** Kind of the derived publications below; they are deleted after use. */
  private val Kind = "graft_atomicpub_spec"

  /** A new source lake `<scratch dir>/sf0.1` holding one file. */
  private def sourceLake(): String = {
    val d = Paths.get(SparkSuite.scratchDir("atomicpub-src"), "sf0.1")
    Files.createDirectories(d)
    Files.writeString(d.resolve("t.parquet"), "12345")
    d.toString
  }

  private def writeData(text: String)(tmp: String): Unit = {
    Files.createDirectories(Paths.get(tmp))
    Files.writeString(Paths.get(tmp, "data.txt"), text)
  }

  private def stampOf(dir: String): String =
    Files.readAllLines(Paths.get(dir, "_GRAFT_COMPLETE")).get(0)

  /** Delete publications `dirs` and their lock files. */
  private def drop(dirs: String*): Unit = dirs.foreach { d =>
    AtomicPublish.deleteTree(Paths.get(d))
    Files.deleteIfExists(Paths.get(s"$d.lock"))
  }

  test("builds once, then reuses a publication with the same stamp") {
    val dst = freshDst()
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "data.txt"), s"build-$builds")
    }
    AtomicPublish.ensure(dst, "v1")(build)
    AtomicPublish.ensure(dst, "v1")(build)
    assert(builds == 1, "same stamp must not rebuild")
    assert(Files.readString(Paths.get(dst, "data.txt")) == "build-1")
  }

  test("a stamp mismatch replaces the publication atomically") {
    val dst = freshDst()
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "data.txt"), s"build-$builds")
    }
    AtomicPublish.ensure(dst, "fingerprint-A")(build)
    AtomicPublish.ensure(dst, "fingerprint-B")(build) // source data changed
    assert(builds == 2, "changed stamp must force a rebuild")
    assert(Files.readString(Paths.get(dst, "data.txt")) == "build-2")
    // stale sibling temp dirs are gone; only the publication + lock remain
    val siblings = Files.list(Paths.get(dst).getParent).toArray.map(_.toString)
    assert(!siblings.exists(_.contains(".tmp-")), s"leaked temp build dirs: ${siblings.toSeq}")
  }

  test("legacy markers (empty stamp) are honored by the default stamp") {
    val dst = freshDst()
    Files.createDirectories(Paths.get(dst))
    Files.writeString(Paths.get(dst, "_GRAFT_COMPLETE"), "")
    Files.writeString(Paths.get(dst, "data.txt"), "legacy")
    var builds = 0
    AtomicPublish.ensure(dst) { _ => builds += 1 }
    assert(builds == 0, "a prior round's empty-stamp publication must be reused")
    assert(Files.readString(Paths.get(dst, "data.txt")) == "legacy")
  }

  test("a reaped data file under an intact marker forces a rebuild") {
    // /tmp cleaners delete large, old files but keep the 0-byte marker
    // (observed round 7: the CDC lake's part files vanished, the marker
    // survived, and every glob reader crashed on an "empty" complete dir).
    val dst = freshDst()
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "part-00000.txt"), s"build-$builds")
    }
    AtomicPublish.ensure(dst, "v1")(build)
    Files.delete(Paths.get(dst, "part-00000.txt")) // the reaper strikes
    AtomicPublish.ensure(dst, "v1")(build)
    assert(builds == 2, "missing manifest file must invalidate the publication")
    assert(Files.readString(Paths.get(dst, "part-00000.txt")) == "build-2")
  }

  test("a legacy manifest-less marker over an empty husk forces a rebuild") {
    val dst = freshDst()
    Files.createDirectories(Paths.get(dst))
    Files.writeString(Paths.get(dst, "_GRAFT_COMPLETE"), "")
    Files.writeString(Paths.get(dst, "._reaped.crc"), "checksum") // only hidden debris left
    var builds = 0
    AtomicPublish.ensure(dst) { tmp =>
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "data.txt"), "rebuilt")
    }
    assert(builds == 1, "a husk with no visible data files must rebuild")
    assert(Files.readString(Paths.get(dst, "data.txt")) == "rebuilt")
  }

  test("dirFingerprint changes when a file's content size changes") {
    val d = Paths.get(SparkSuite.scratchDir("fp"))
    Files.writeString(d.resolve("a.parquet"), "12345")
    val fp1 = AtomicPublish.dirFingerprint(d.toString)
    assert(fp1 == AtomicPublish.dirFingerprint(d.toString), "deterministic")
    Files.writeString(d.resolve("a.parquet"), "1234567890")
    assert(AtomicPublish.dirFingerprint(d.toString) != fp1, "size change must alter the fingerprint")
  }

  test("two source lakes with the same basename at different paths publish to different dirs") {
    val (a, b) = (sourceLake(), sourceLake())
    val da = AtomicPublish.derived(Kind, a, "p=1", "1")(writeData("a"))
    val db = AtomicPublish.derived(Kind, b, "p=1", "1")(writeData("b"))
    try {
      assert(da != db)
      Seq(da, db).foreach { d =>
        assert(Paths.get(d).getParent == Paths.get(AtomicPublish.Root))
        assert(Paths.get(d).getFileName.toString.matches(s"${Kind}_sf0\\.1_[0-9a-f]{8}"), d)
      }
      assert(Files.readString(Paths.get(da, "data.txt")) == "a")
      assert(Files.readString(Paths.get(db, "data.txt")) == "b")
    } finally drop(da, db)
  }

  test("a changed source fingerprint, parameter or gen rebuilds a derived publication") {
    val src = sourceLake()
    var builds = 0
    def build(tmp: String): Unit = { builds += 1; writeData(s"build-$builds")(tmp) }
    val dst = AtomicPublish.derived(Kind, src, "p=1", "1")(build)
    try {
      assert(AtomicPublish.derived(Kind, src, "p=1", "1")(build) == dst)
      assert(builds == 1, "same source, parameters and gen must reuse")
      Files.writeString(Paths.get(src, "t.parquet"), "1234567890") // new source data
      AtomicPublish.derived(Kind, src, "p=1", "1")(build)
      assert(builds == 2, "a changed source fingerprint must rebuild")
      AtomicPublish.derived(Kind, src, "p=1", "2")(build) // the lake's code changed
      assert(builds == 3, "a changed gen must rebuild")
      AtomicPublish.derived(Kind, src, "p=2", "2")(build)
      assert(builds == 4, "a changed parameter must rebuild")
      assert(Files.readString(Paths.get(dst, "data.txt")) == "build-4")
      assert(stampOf(dst) == s"src=$src md5=${AtomicPublish.dirFingerprint(src)} p=2 gen=2")
    } finally drop(dst)
  }

  test("a synthetic publication is stamped with its parameters and gen only") {
    val dst = freshDst()
    AtomicPublish.synthetic(dst, "n=4", "1")(writeData("x"))
    assert(stampOf(dst) == "n=4 gen=1")
    AtomicPublish.synthetic(dst, "", "2")(writeData("y"))
    assert(stampOf(dst) == "gen=2")
    assert(Files.readString(Paths.get(dst, "data.txt")) == "y")
  }

  test("an envelope lake published by code of another generation is rebuilt") {
    val dir = EnvelopeQueries.buildLake(spark)
    val current = s"gen=${StreamingQueries.CacheGen}"
    assert(stampOf(dir) == current)
    // what a build by older code leaves: its own gen, and a file the
    // current build does not write
    val marker = Paths.get(dir, "_GRAFT_COMPLETE")
    val lines = Files.readAllLines(marker)
    lines.set(0, "gen=older")
    Files.write(marker, lines)
    Files.writeString(Paths.get(dir, "stale.txt"), "older build")
    assert(EnvelopeQueries.buildLake(spark) == dir)
    assert(stampOf(dir) == current)
    assert(!Files.exists(Paths.get(dir, "stale.txt")), "a stale-gen lake must be rebuilt, not reused")
  }

  test("the builders the cached catalog runs share are hashed by CacheGen") {
    // a builder outside CacheGen's class set could change under a cached
    // catalog result and leave it stale under graft_stream_results
    def classFile(host: AnyRef, method: String): String = {
      val m = host.getClass.getMethods.find(_.getName == method)
      assert(m.nonEmpty, s"no method $method on ${host.getClass.getName}")
      m.get.getDeclaringClass.getName.replace('.', '/') + ".class"
    }
    val builders = Seq(
      classFile(Scd2Streaming, "startIncremental"), // the SCD2 stream
      classFile(DocStream, "ensureSlices"), classFile(DocStream, "read"), // the doc slicer
      classFile(DocStream, "bands"), classFile(DocStream, "bandFlags"), // the band builder
      classFile(DocStream, "startBandOwner"), classFile(DocStream, "dupCounts"),
      classFile(BoundedStream, "converged"), classFile(BoundedStream, "appendTagged"),
      classFile(BoundedStream, "startStateful"), classFile(BoundedStream, "writeSlice"))
    builders.foreach { f =>
      assert(getClass.getClassLoader.getResource(f) != null, s"no class file $f")
      assert(StreamingQueries.covered(f), s"$f is outside CacheGen's class set")
    }
    // nor may a covered class call into the bench's object, which is not hashed
    val classes = Paths.get(StreamingQueries.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    import scala.jdk.CollectionConverters._
    val callers = Files.walk(classes).iterator().asScala
      .filter(p => Files.isRegularFile(p) && StreamingQueries.covered(classes.relativize(p).toString))
      .filter(p => new String(Files.readAllBytes(p), "ISO-8859-1").contains("graft/StreamingThroughput"))
      .toSeq
    assert(!StreamingQueries.covered("graft/StreamingThroughput$.class"))
    assert(callers.isEmpty, s"covered classes call StreamingThroughput: $callers")
  }
}
