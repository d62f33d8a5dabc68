package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** A cooperative scheduler over [[GraftStore.hook]]'s named points. Each
  * actor runs on its own thread, but only one runs at a time: at every
  * hook point the running actor parks and hands control back, and the
  * schedule picks who runs next — or crashes an actor where it parked. A
  * crashed actor never runs again (a dead process) until [[close]]
  * unwinds it. Every step is recorded in [[trace]] as `actor@point`. */
final class Scheduler extends AutoCloseable {
  private val lock = new Object
  private var running: String = null
  private var closing = false
  private val parked = mutable.Map.empty[String, String]
  private val done = mutable.Set.empty[String]
  private val crashed = mutable.Set.empty[String]
  private val byThread = new java.util.concurrent.ConcurrentHashMap[Thread, String]()
  private val threads = mutable.ArrayBuffer.empty[Thread]
  val trace = mutable.ArrayBuffer.empty[String]
  val failures = mutable.Map.empty[String, Throwable]
  val names = mutable.ArrayBuffer.empty[String]

  def hook(point: String): Unit = {
    val me = byThread.get(Thread.currentThread())
    if (me == null) return
    lock.synchronized {
      if (closing) return
      trace += s"$me@$point"
      parked(me) = point
      running = null
      lock.notifyAll()
      while (running != me && !closing) lock.wait()
      parked.remove(me)
      if (closing) throw new GraftStore.InjectedCrash(point)
    }
  }

  def spawn(name: String)(body: => Unit): Unit = {
    names += name
    val t = new Thread(() => {
      byThread.put(Thread.currentThread(), name)
      lock.synchronized { while (running != name && !closing) lock.wait() }
      try if (!lock.synchronized(closing)) body
      catch { case e: Throwable => lock.synchronized(failures(name) = e) }
      finally lock.synchronized {
        done += name
        if (running == name) running = null
        lock.notifyAll()
      }
    }, s"sched-$name")
    t.setDaemon(true)
    threads += t
    t.start()
  }

  def live(name: String): Boolean =
    lock.synchronized(!done(name) && !crashed(name))

  def parkedAt(name: String): Option[String] = lock.synchronized(parked.get(name))

  /** Run `name` until it parks at its next hook point or finishes. */
  def step(name: String): Unit = lock.synchronized {
    if (done(name) || crashed(name)) return
    running = name
    lock.notifyAll()
    val deadline = System.currentTimeMillis() + 30000L
    while (running == name) {
      lock.wait(100)
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"$name made no progress: $trace")
    }
  }

  /** A dead process: `name` stays parked where it is. */
  def crash(name: String): Unit = lock.synchronized {
    if (parked.contains(name)) {
      crashed += name
      trace += s"$name CRASHED@${parked(name)}"
    }
  }

  def runUntil(name: String, point: String): Unit =
    while (live(name) && !parkedAt(name).contains(point)) step(name)

  def finish(name: String): Unit = while (live(name)) step(name)

  def finishAll(): Unit = names.foreach(finish)

  override def close(): Unit = {
    lock.synchronized { closing = true; lock.notifyAll() }
    threads.foreach(_.join(10000))
  }
}

/** The proof of the fenced pointer move ([[GraftStore.movePointer]]): one
  * publisher, two resolvers and a reader (plus, where the race needs one,
  * a second writer) interleaved over the store's hook points, with a
  * crash possible at each. The named cases are the exact schedules of the
  * stale-resolver and stale-writer failures the fence closes; the
  * property runs a fixed set of seeded schedules over the three publish
  * shapes — a group publish (S44/S45, read through snapshot_group, S46),
  * a branch fast-forward (freezeBranch → adoptBranch → completePublish)
  * and plain commits — and checks after each that the pointer never
  * moved back, no group is torn, every published version is whole, and
  * every decided group resolves the same way whoever finishes it. */
class GroupScheduleSpec extends AnyFunSuite {
  private val meta = GraftTableMeta(
    StructType(Seq(StructField("k", LongType, nullable = false))), Seq("k"), 1)

  /** One run over a fresh root: tables, the scheduler installed as the
    * store's hook, every claim stale at once when `staleClaims` (the
    * adversary: any claim can be broken any time, so only the fence
    * keeps writers apart). */
  private def withRun[A](staleClaims: Boolean)(f: (Path, Scheduler) => A): A = {
    val root = Files.createTempDirectory("graft_sched")
    val sched = new Scheduler
    val savedHook = GraftStore.hook
    val savedStale = sys.props.get("graft.store.staleClaimMillis")
    if (staleClaims) sys.props("graft.store.staleClaimMillis") = "-1"
    GraftStore.hook = sched.hook
    try f(root, sched)
    finally {
      GraftStore.hook = savedHook
      sched.close()
      savedStale match {
        case Some(v) => sys.props("graft.store.staleClaimMillis") = v
        case None => sys.props.remove("graft.store.staleClaimMillis")
      }
      val w = Files.walk(root)
      try w.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally w.close()
    }
  }

  private def table(root: Path, name: String): String = {
    val d = root.resolve(name).toString
    GraftStore.create(d, meta)
    d
  }

  /** A branch `name` of `dir` carrying `commits` commits. */
  private def branch(dir: String, name: String, commits: Int): Unit = {
    GraftStore.createBranch(dir, name)
    (1 to commits).foreach(_ => GraftStore.truncate(GraftStore.branchDir(dir, name)))
  }

  /** The commit stamp of a branch's head: the group or fast-forward that
    * publishes it is visible on `dir` at `v` iff a version up to `v`
    * carries it. */
  private def headStamp(dir: String, name: String): Long = {
    val bd = GraftStore.branchDir(dir, name)
    GraftStore.committedAt(bd, GraftStore.currentVersion(bd))
  }
  private def visible(dir: String, stamp: Long, v: Long): Boolean =
    (1L to v).exists(k => GraftStore.committedAt(dir, k) == stamp)

  /** Whole history: versions 0..current all listed and readable. */
  private def whole(dir: String): Unit = {
    val cur = GraftStore.currentVersion(dir)
    assert(GraftStore.listVersions(dir) === (0L to cur),
      s"$dir lists ${GraftStore.listVersions(dir)} at v$cur")
    (0L to cur).foreach(v => GraftStore.manifestOf(GraftStore.versionDir(dir, v)))
  }

  private def marker(dir: String): Path = Paths.get(dir, GraftStore.GroupMarkerName)

  private def decision(root: Path): Option[String] = {
    val gr = root.resolve("_groups")
    if (!Files.isDirectory(gr)) None
    else GraftStore.listDir(gr)(_.filter(_.toString.endsWith(".decision"))
      .map(p => new String(Files.readAllBytes(p), "UTF-8").trim).toList)
      .lastOption
  }

  /** The conflicts a losing actor may see; anything else is a fault. */
  private def expected(e: Throwable): Boolean = e match {
    case _: java.util.ConcurrentModificationException => true
    case _: IllegalArgumentException => true
    case _: GraftStore.InjectedCrash => true
    case _ => false
  }

  private def noFaults(s: Scheduler): Unit =
    s.failures.foreach { case (who, e) =>
      assert(expected(e), s"$who failed: $e\n${s.trace.mkString(" ")}")
    }

  // ------------------------------------------------------------ named cases

  test("a stalled resolver's completePublish never moves the pointer back") {
    withRun(staleClaims = false) { (root, s) =>
      val a = table(root, "a")
      val b = table(root, "b")
      branch(a, "g", 2)
      branch(b, "g", 1)
      var after = -1L
      s.spawn("P") {
        GraftStore.publishGroup(root.resolve("_groups"), Seq(a -> "g", b -> "g"))
        GraftStore.truncate(a)
        after = GraftStore.currentVersion(a)
      }
      s.spawn("R1")(GraftStore.recoverGroupCommit(a))
      s.runUntil("P", "publishGroup.decided")
      s.runUntil("R1", "movePointer.recorded")
      s.finish("P")
      s.finish("R1")
      noFaults(s)
      withClue(s.trace.mkString(" ")) {
        assert(after === 3L)
        assert(GraftStore.currentVersion(a) === 3L, "the pointer moved back")
      }
    }
  }

  test("a stale resolver never removes a newer group's marker") {
    withRun(staleClaims = false) { (root, s) =>
      val a = table(root, "a")
      val b = table(root, "b")
      branch(a, "g", 1)
      branch(b, "g", 1)
      val groups = root.resolve("_groups")
      var stamps = (0L, 0L)
      s.spawn("P") {
        GraftStore.publishGroup(groups, Seq(a -> "g", b -> "g"))
        branch(a, "g2", 1)
        branch(b, "g2", 1)
        stamps = (headStamp(a, "g2"), headStamp(b, "g2"))
        GraftStore.publishGroup(groups, Seq(a -> "g2", b -> "g2"))
      }
      s.spawn("R1")(GraftStore.recoverGroupCommit(a))
      s.runUntil("P", "publishGroup.decided")
      s.runUntil("R1", "removeIf.tombed")
      // P completes the first group, stages the second and dies right
      // after deciding it
      s.step("P")
      while (s.live("P") && !(s.parkedAt("P").contains("publishGroup.decided") &&
          stamps._1 != 0L)) s.step("P")
      s.crash("P")
      s.finish("R1")
      noFaults(s)
      Seq(a, b).foreach(GraftStore.recoverGroupCommit)
      withClue(s.trace.mkString(" ")) {
        assert(decision(root).isDefined)
        assert(visible(a, stamps._1, GraftStore.currentVersion(a)),
          "the decided group was lost on a")
        assert(visible(b, stamps._2, GraftStore.currentVersion(b)))
        assert(!Files.exists(marker(a)) && !Files.exists(marker(b)))
        assert(!GraftStore.branchExists(a, "g2"), "a's branch was not consumed")
      }
    }
  }

  test("a stale flip never replaces a successor's published version") {
    withRun(staleClaims = true) { (root, s) =>
      val a = table(root, "a")
      val won = mutable.ArrayBuffer.empty[Long]
      s.spawn("W1")(won += GraftStore.truncate(a))
      s.spawn("W2") { won += GraftStore.truncate(a); won += GraftStore.truncate(a) }
      s.runUntil("W1", "flip")
      s.finish("W2")
      s.finish("W1")
      noFaults(s)
      withClue(s.trace.mkString(" ")) {
        assert(s.failures.contains("W1"), "the stale flip published")
        assert(won.toSeq === Seq(1L, 2L))
        assert(GraftStore.currentVersion(a) === 2L)
        whole(a)
      }
    }
  }

  test("a stale holder's release never removes its successor's lease") {
    withRun(staleClaims = false) { (root, s) =>
      val a = table(root, "a")
      var successor = ""
      s.spawn("H1") {
        val (m, t) = GraftStore.claimCommit(a, 5L)
        GraftStore.releaseClaim(m, t)
      }
      s.spawn("H2") {
        val (m, t) = GraftStore.claimCommit(a, 5L, staleClaimMillis = -1L)
        successor = t
        s.hook("holding")
        GraftStore.releaseClaim(m, t)
      }
      s.runUntil("H1", "removeIf.tombed")
      s.runUntil("H2", "holding")
      s.finish("H1")
      val lease = Paths.get(a, f"_commit-${5L}%010d")
      withClue(s.trace.mkString(" ")) {
        assert(Files.exists(lease) &&
          new String(Files.readAllBytes(lease), "UTF-8") == successor,
          "the successor's lease was removed")
      }
      s.finish("H2")
      noFaults(s)
      assert(!Files.exists(lease))
    }
  }

  test("an aborted group's reservation never wedges its member after the retention sweep") {
    withRun(staleClaims = true) { (root, _) =>
      val a = table(root, "a")
      val b = table(root, "b")
      branch(a, "g", 1)
      branch(b, "g", 1)
      val groups = root.resolve("_groups")
      intercept[GraftStore.InjectedCrash] {
        GraftStore.withCrashAt("publishGroup.before-decision") {
          GraftStore.publishGroup(groups, Seq(a -> "g", b -> "g"))
        }
      }
      Seq(a, b).foreach(GraftStore.recoverGroupCommit)
      assert(decision(root).contains("aborted"))
      // age the aborted group past the sweep's one-day window
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 86400000L)
      GraftStore.listDir(groups)(_.toList).foreach(Files.setLastModifiedTime(_, old))
      branch(a, "g2", 1)
      branch(b, "g2", 1)
      // the next publish runs the sweep, then moves off the same fork
      GraftStore.publishGroup(groups, Seq(a -> "g2", b -> "g2"))
      assert(!GraftStore.branchExists(a, "g2") && !GraftStore.branchExists(b, "g2"))
      assert(GraftStore.truncate(a) === 2L && GraftStore.currentVersion(a) === 2L)
      whole(a)
    }
  }

  test("publish_group with a relative groups root consumes its branches") {
    withRun(staleClaims = false) { (root, _) =>
      val a = table(root, "a")
      val b = table(root, "b")
      branch(a, "g", 1)
      branch(b, "g", 1)
      val rel = Paths.get("").toAbsolutePath.relativize(root.resolve("_groups"))
      assert(!rel.isAbsolute)
      GraftStore.publishGroup(rel, Seq(a -> "g", b -> "g"))
      assert(!GraftStore.branchExists(a, "g") && !GraftStore.branchExists(b, "g"),
        "a member's completion did not match its own reservation")
      assert(!Files.exists(marker(a)) && !Files.exists(marker(b)))
      assert(GraftStore.currentVersion(a) === 1L && GraftStore.currentVersion(b) === 1L)
    }
  }

  test("a stale flip off a version expiry retired creates no move record") {
    withRun(staleClaims = true) { (root, s) =>
      val a = table(root, "a")
      var won = -1L
      s.spawn("W1") { won = GraftStore.truncate(a) }
      s.runUntil("W1", "flip")
      (1 to 3).foreach(_ => GraftStore.truncate(a))
      GraftStore.expireVersions(a, keepLast = 1)
      s.spawn("Reader") { (1 to 3).foreach(_ => GraftStore.currentVersion(a)) }
      while (s.live("W1") || s.live("Reader")) {
        s.step("W1")
        s.step("Reader")
        assert(!Files.exists(Paths.get(a, "_log", f"${1L}%010d")),
          s"a record off retired v0 appeared: ${s.trace.mkString(" ")}")
      }
      noFaults(s)
      withClue(s.trace.mkString(" ")) {
        assert(s.failures.contains("W1") && won === -1L, "the stale flip published")
        assert(GraftStore.listVersions(a) === Seq(3L))
        assert(!Files.exists(Paths.get(GraftStore.versionDir(a, 1L))))
      }
    }
  }

  // --------------------------------------------------------------- property

  /** One seeded schedule: the actors a shape spawns, then `picks` — step
    * an actor, or crash it where it parked — then every live actor to its
    * end, a final recovery, and the shape's checks. */
  private sealed trait Shape
  private case object Group extends Shape
  private case object GroupWithWriter extends Shape
  private case object FastForward extends Shape
  private case object Flips extends Shape

  private val pick = Gen.zip(Gen.choose(0, 4), Gen.frequency(14 -> false, 1 -> true))
  private val scheduleGen = for {
    shape <- Gen.oneOf(Group, GroupWithWriter, FastForward, Flips)
    picks <- Gen.listOfN(48, pick)
  } yield (shape, picks)

  /** Outcomes seen across the run, so a property that held only because
    * a leg never ran shows up. */
  private val legs = mutable.Map.empty[String, Int].withDefaultValue(0)

  private def run(shape: Shape, picks: Seq[(Int, Boolean)]): Unit =
    withRun(staleClaims = true) { (root, s) =>
      val a = table(root, "a")
      val b = table(root, "b")
      val groups = root.resolve("_groups")
      // actors run one at a time, each hand-off under the scheduler's lock
      val won = mutable.ArrayBuffer.empty[Long]
      val seen = mutable.ArrayBuffer.empty[Long]
      val cuts = mutable.ArrayBuffer.empty[Seq[Long]]
      def commit(dir: String): Unit = won += GraftStore.truncate(dir)
      shape match {
        case Group | GroupWithWriter =>
          branch(a, "g", 2)
          branch(b, "g", 1)
        case FastForward => branch(a, "f", 2)
        case Flips => ()
      }
      val stampA = if (shape == Flips) 0L
        else headStamp(a, if (shape == FastForward) "f" else "g")
      val stampB = if (shape == Group || shape == GroupWithWriter)
        headStamp(b, "g") else 0L
      Thread.sleep(2) // a commit of the run never shares a stamp with setup
      var published = false
      shape match {
        case Group | GroupWithWriter =>
          s.spawn("P") {
            GraftStore.publishGroup(groups, Seq(a -> "g", b -> "g"))
            published = true
            commit(a)
          }
          s.spawn("R1") { GraftStore.recoverGroupCommit(a); GraftStore.recoverGroupCommit(b) }
          s.spawn("R2") { GraftStore.recoverGroupCommit(b); GraftStore.recoverGroupCommit(a) }
          s.spawn("Reader") {
            (1 to 3).foreach { _ =>
              cuts += (GraftStore.snapshotGroup(Seq(a, b)))
              seen += (GraftStore.currentVersion(a))
            }
          }
          if (shape == GroupWithWriter) s.spawn("W")(commit(a))
        case FastForward =>
          s.spawn("P") { GraftStore.fastForward(a, "f"); published = true }
          s.spawn("W")(commit(a))
          s.spawn("R1")(GraftStore.recoverChangelog(a))
          s.spawn("Reader") {
            (1 to 4).foreach(_ => seen += (GraftStore.currentVersion(a)))
          }
        case Flips =>
          s.spawn("W1") { commit(a); commit(a) }
          s.spawn("W2") { commit(a); commit(a) }
          s.spawn("R1")(GraftStore.recoverChangelog(a))
          s.spawn("Reader") {
            (1 to 4).foreach(_ => seen += (GraftStore.currentVersion(a)))
          }
      }
      picks.foreach { case (i, crash) =>
        val who = s.names(i % s.names.size)
        if (crash) s.crash(who) else s.step(who)
      }
      s.finishAll()
      noFaults(s)
      Seq(a, b).foreach { d =>
        GraftStore.recoverGroupCommit(d)
        GraftStore.recoverChangelog(d)
      }
      withClue(s.trace.mkString(" ")) {
      val curA = GraftStore.currentVersion(a)
      val curB = GraftStore.currentVersion(b)
      // the pointer never moved back, and no two writers won one version
      assert(seen === seen.sorted, "a reader saw the pointer move back")
      assert(won.distinct.size === won.size, s"one version published twice: $won")
      assert((seen ++ won).forall(_ <= curA), s"pointer rolled back to v$curA")
      Seq(a, b).foreach(whole)
      shape match {
        case Group | GroupWithWriter =>
          val d = decision(root)
          val onA = visible(a, stampA, curA)
          val onB = visible(b, stampB, curB)
          assert(onA === onB, s"torn group: a=$onA b=$onB (decision $d)")
          assert(onA === d.contains("committed"))
          assert(published ==> onA)
          cuts.foreach { case Seq(va, vb) =>
            assert(visible(a, stampA, va) === visible(b, stampB, vb),
              s"snapshot_group returned a torn cut ($va, $vb)")
          }
          assert(!Files.exists(marker(a)) && !Files.exists(marker(b)),
            "a resolved group left its marker")
          assert(GraftStore.branchExists(a, "g") === !onA &&
            GraftStore.branchExists(b, "g") === !onB,
            "a resolved group's branches were not consumed, or an aborted one's were")
          legs(d match {
            case Some("committed") if !published => "committed, finished by recovery"
            case Some("committed") => "committed by the publisher"
            case Some(_) => "aborted"
            case None => "never decided"
          }) += 1
        case FastForward =>
          val vis = visible(a, stampA, curA)
          assert(published ==> (vis && !GraftStore.branchExists(a, "f")))
          assert(vis ==> !won.contains(1L), "the branch and a commit both won v1")
          legs(s"fast_forward ${if (vis) "won" else "lost"}") += 1
        case Flips =>
          // a writer that died after its move published without reporting
          assert(won.size <= curA && curA <= 4, s"v$curA after commits $won")
          legs(s"flips ${if (won.size < 4) "with" else "without"} a loser") += 1
      }
      // every staged slice at or below the pointer is published or gone
      val ch = Paths.get(GraftStore.changesRoot(a))
      assert(GraftStore.listDir(ch)(_.map(_.getFileName.toString)
        .filter(_.startsWith(".staging-"))
        .forall(_.stripPrefix(".staging-").takeWhile(_ != '-').toLong > curA)))
      }
    }

  private implicit class Implies(p: Boolean) {
    def ==>(q: => Boolean): Boolean = !p || q
  }

  test("seeded schedules: no rollback, no torn group, whole history") {
    val params = Gen.Parameters.default
    (0 until 600).foreach { i =>
      val (shape, picks) = scheduleGen.pureApply(params, Seed(20261020L + i))
      try run(shape, picks)
      catch {
        case e: Throwable => fail(s"schedule $i ($shape, picks $picks): $e", e)
      }
    }
    info(s"outcomes: ${legs.toSeq.sorted.mkString(", ")}")
    // every leg of recoverGroupCommit and both fast_forward outcomes ran
    Seq("committed, finished by recovery", "committed by the publisher",
      "aborted", "fast_forward won", "fast_forward lost",
      "flips with a loser").foreach { leg =>
      assert(legs(leg) > 0, s"no schedule reached '$leg': $legs")
    }
  }
}
