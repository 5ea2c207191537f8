package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.TimeUnit
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Child-JVM entry for [[ArtifactsSpec]]'s cross-process cases.
  *
  *  - `publish <target> <token> <sleepMs>`: publish `target` with a slow
  *    writer that writes `token`, prints `WRITING`, sleeps, then
  *    finishes; prints `RESULT <path>`.
  *  - `supersede <base>`: key one persisted dir at fingerprint `fp1`,
  *    then replace it at `fp2`; the superseded dir must still be
  *    readable; prints `RESULT <first> <second>`.
  */
object ArtifactsChild {
  private def slowWriter(token: String, sleepMs: Long)(dir: Path): Unit = {
    Files.write(dir.resolve("token"), token.getBytes("UTF-8"))
    println("WRITING")
    System.out.flush()
    Thread.sleep(sleepMs)
    Files.write(dir.resolve("done"), token.getBytes("UTF-8"))
    ()
  }

  def main(args: Array[String]): Unit = args(0) match {
    case "publish" =>
      val got = Artifacts.publish(Paths.get(args(1)))(
        slowWriter(args(2), args(3).toLong))
      println(s"RESULT $got")
    case "supersede" =>
      val base = Paths.get(args(1))
      val first = Artifacts.persisted("supersede", "fp1",
        base.resolve("graft_idx_v1"))(slowWriter("one", 0))
      val second = Artifacts.persisted("supersede", "fp2",
        base.resolve("graft_idx_v2"))(slowWriter("two", 0))
      require(Files.exists(Paths.get(first, "token")),
        "a superseded dir must stay readable until JVM exit")
      println(s"RESULT $first $second")
  }
}

/** The artifact lifecycle: the atomic directory publish across two
  * processes (race and crash), the recovery of an unmarked leftover,
  * and the persisted-dir policies — healing, mtime refresh, superseded
  * dirs kept until JVM exit, and the age-classed sweep. Child JVMs run
  * from this JVM's `java` and class path, at most two at a time.
  */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val scratch: Path = Files.createTempDirectory("graft_artifacts_spec")
  override def afterAll(): Unit = Artifacts.rmrf(scratch)

  private def base(name: String): Path =
    Files.createDirectories(scratch.resolve(name))

  private def child(args: String*): Process = {
    val java = ProcessHandle.current().info().command()
      .orElse(Paths.get(sys.props("java.home"), "bin", "java").toString)
    new ProcessBuilder((Seq(java, "-Xmx64m", s"-Djava.io.tmpdir=$scratch",
      "-cp", sys.props("java.class.path"), "graft.ArtifactsChild") ++ args): _*)
      .redirectErrorStream(true).start()
  }

  /** The child's `RESULT` line, after it exits cleanly. */
  private def resultOf(p: Process): Seq[String] = {
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor(120, TimeUnit.SECONDS), s"child did not exit:\n$out")
    assert(p.exitValue() == 0, s"child failed:\n$out")
    out.linesIterator.collectFirst {
      case l if l.startsWith("RESULT ") => l.drop(7).split(" ").toSeq
    }.getOrElse(fail(s"no RESULT line:\n$out"))
  }

  private def siblings(dir: Path): Seq[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    finally ls.close()
  }

  private def token(dir: Path): String =
    new String(Files.readAllBytes(dir.resolve("token")), "UTF-8")

  private def writeAll(d: Path): Unit = {
    Files.write(d.resolve("a.txt"), "alpha".getBytes)
    Files.write(d.resolve("b.txt"), "beta".getBytes)
    ()
  }

  private def setTreeMtime(root: Path, millis: Long): Unit = {
    val walk = Files.walk(root)
    try walk.forEach(p => Files.setLastModifiedTime(p, FileTime.fromMillis(millis)))
    finally walk.close()
  }

  private val day = 24L * 3600 * 1000

  test("publish: fresh target installed whole, complete one reused") {
    val target = base("fresh").resolve("corpus_v1")
    assert(Artifacts.publish(target)(writeAll) == target.toString)
    assert(Files.exists(target.resolve("a.txt")) &&
      Files.exists(target.resolve("b.txt")) &&
      Files.exists(target.resolve(Artifacts.Marker)))
    var ran = false
    assert(Artifacts.publish(target) { _ => ran = true } == target.toString)
    assert(!ran, "a complete dir must short-circuit")
    assert(siblings(target.getParent) == Seq("corpus_v1"))
  }

  test("publish: a failing writer leaves neither target nor staging dir") {
    val root = base("failing")
    val target = root.resolve("idx")
    val e = intercept[IllegalStateException] {
      Artifacts.publish(target) { d => writeAll(d); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(siblings(root).isEmpty)
  }

  test("race: two JVMs publish one target — one writer's copy survives, " +
    "both serve it, no staging dir is left") {
    val root = base("race")
    val target = root.resolve("graft_idx_race")
    val a = child("publish", target.toString, "A", "1500")
    val b = child("publish", target.toString, "B", "1500")
    val (ra, rb) = (resultOf(a), resultOf(b))
    assert(ra == Seq(target.toString) && rb == Seq(target.toString))
    assert(Set("A", "B").contains(token(target)))
    assert(new String(Files.readAllBytes(target.resolve("done")), "UTF-8") ==
      token(target), "the served dir mixes two writers' files")
    assert(siblings(root) == Seq("graft_idx_race"),
      s"leftover siblings: ${siblings(root)}")
  }

  test("crash: a writer killed mid-write leaves no target; the next " +
    "publish succeeds and the orphan is swept once its tree is 24 h old") {
    val root = base("crash")
    val target = root.resolve("graft_idx_crash")
    val p = child("publish", target.toString, "dead", "600000")
    val lines = new java.io.BufferedReader(
      new java.io.InputStreamReader(p.getInputStream, "UTF-8"))
    assert(Iterator.continually(lines.readLine()).takeWhile(_ != null)
      .exists(_ == "WRITING"), "child never started writing")
    p.destroyForcibly()
    assert(p.waitFor(60, TimeUnit.SECONDS))
    assert(!Files.exists(target), "a killed writer must not expose the target")
    val orphans = siblings(root).filter(_.contains(".build-"))
    assert(orphans.size == 1, siblings(root))
    val orphan = root.resolve(orphans.head)
    assert(Artifacts.publish(target)(writeAll) == target.toString)
    assert(Files.exists(target.resolve("b.txt")))
    val now = System.currentTimeMillis()
    Artifacts.sweep(root)
    assert(Files.exists(orphan), "a fresh staging dir must survive the sweep")
    // only the root aged: its newest file is still fresh
    Files.setLastModifiedTime(orphan, FileTime.fromMillis(now - 2 * day))
    Artifacts.sweep(root)
    assert(Files.exists(orphan), "the sweep must read the newest mtime in the tree")
    setTreeMtime(orphan, now - day - 3600L * 1000)
    Artifacts.sweep(root)
    assert(!Files.exists(orphan), "a staging tree idle for 24 h must be swept")
    assert(siblings(root) == Seq("graft_idx_crash"))
  }

  test("an unmarked leftover under the final name is replaced once") {
    val root = base("legacy")
    val target = root.resolve("corpus_torn")
    Files.createDirectories(target)
    Files.write(target.resolve("a.txt"), "torn".getBytes) // no b.txt, no marker
    var writes = 0
    def write(d: Path): Unit = { writes += 1; writeAll(d) }
    assert(Artifacts.publish(target)(write) == target.toString)
    assert(new String(Files.readAllBytes(target.resolve("a.txt"))) == "alpha")
    assert(Files.exists(target.resolve("b.txt")) &&
      Files.exists(target.resolve(Artifacts.Marker)))
    Artifacts.publish(target)(write)
    assert(writes == 1, "the repaired dir must be reused")
    assert(siblings(root) == Seq("corpus_torn"))
  }

  test("persisted: an externally deleted dir heals on the memo's fast path") {
    val target = base("heal").resolve("graft_idx_heal")
    var builds = 0
    def get(): String = Artifacts.persisted("heal", "fp", target) { d =>
      builds += 1; writeAll(d)
    }
    assert(get() == target.toString && builds == 1)
    assert(get() == target.toString && builds == 1, "a hit must not rebuild")
    Artifacts.rmrf(target)
    assert(get() == target.toString && builds == 2)
    assert(Files.exists(target.resolve(Artifacts.Marker)))
  }

  test("a hit refreshes the dir's mtime, in-session and across sessions") {
    val root = base("mtime")
    val target = root.resolve("graft_idx_mtime")
    def age(): Long = {
      val old = System.currentTimeMillis() - 3 * day
      Files.setLastModifiedTime(target, FileTime.fromMillis(old))
      old
    }
    Artifacts.persisted("mtime", "fp", target)(writeAll)
    var old = age()
    Artifacts.persisted("mtime", "fp", target) { _ => fail("rebuilt") }
    assert(Files.getLastModifiedTime(target).toMillis > old + day)
    old = age()
    Artifacts.publish(target) { _ => fail("rebuilt") }
    assert(Files.getLastModifiedTime(target).toMillis > old + day)
  }

  test("a superseded dir stays readable until its JVM exits, then is gone") {
    val root = base("superseded")
    val Seq(first, second) = resultOf(child("supersede", root.toString))
    assert(first != second)
    assert(!Files.exists(Paths.get(first)), "superseded dir survived JVM exit")
    assert(Files.exists(Paths.get(second, Artifacts.Marker)))
    assert(siblings(root) == Seq("graft_idx_v2"))
  }

  test("sweep age classes: graft_idx_ dirs after 7 idle days, trash and " +
    "staging after 24 h, other dirs never") {
    val root = base("sweep")
    val now = System.currentTimeMillis()
    def dir(name: String, ageMs: Long): Path = {
      val d = Files.createDirectories(root.resolve(name))
      Files.write(d.resolve("f"), Array[Byte](1))
      setTreeMtime(d, now - ageMs)
      d
    }
    dir("graft_idx_idle6d", 6 * day)
    dir("graft_idx_idle8d", 8 * day)
    dir("graft_idx_x.trash-0123abcd", 25 * 3600L * 1000)
    dir("graft_idx_x.build-89abcdef", 23 * 3600L * 1000)
    dir("corpus_v1", 30 * day)
    Artifacts.sweep(root, now)
    assert(siblings(root) ==
      Seq("corpus_v1", "graft_idx_idle6d", "graft_idx_x.build-89abcdef"))
  }
}
