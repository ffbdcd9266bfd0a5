package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._

import graft.table.{HadoopFsLogStore, LogStore, Versioned}

/** Crash-fault injection over the commit protocol: randomized kill
  * schedules driven through append / merge / MoR delete / update /
  * compact via a fault-injecting [[LogStore]] wrapper. A "crash" is an
  * exception the writer never catches, thrown either BEFORE the log
  * publish (the writer died after landing data files but before the
  * commit became durable) or AFTER it (the commit is durable, the
  * writer died before acknowledging) — the two windows a real process
  * kill exposes. SpuriousRace actions additionally fail attempts with
  * CommitRace mid-schedule, so crashes land inside the CAS-retry loops
  * too.
  *
  * The property, over ≥100 random schedules:
  *  1. the table's readable state always equals the fold of the ops the
  *     LOG says committed — a crash never loses a published commit and
  *     never surfaces a half-applied one;
  *  2. a crash before publish NEVER advances the table;
  *  3. vacuum converges: after one aggressive pass, a second dry-run
  *     finds nothing left to delete, every surviving data dir holds
  *     live head-snapshot files, no stale commit temps remain — and the
  *     readable state is untouched.
  */
class CrashFaultSpec extends SparkSpec {
  import spark.implicits._

  /** Thrown from the injected kill point; nothing in the engine may
    * catch it (it is neither CommitRace nor IOException).
    */
  final class InjectedCrash(msg: String) extends RuntimeException(msg)

  sealed trait Action
  case object Pass extends Action
  case object CrashBefore extends Action
  case object CrashAfter extends Action
  case object SpuriousRace extends Action

  /** Per-table-dir scripted [[LogStore]]: each publish consumes the next
    * action of its table's schedule (exhausted schedules pass through),
    * so concurrent schedules on different tables never interfere.
    */
  final class FaultInjectingLogStore(inner: LogStore) extends LogStore {
    private val plans =
      new java.util.concurrent.ConcurrentHashMap[
        String, java.util.Queue[Action]]()

    def arm(tableDir: String, actions: Seq[Action]): Unit = {
      val q = new java.util.concurrent.ConcurrentLinkedQueue[Action]()
      actions.foreach(q.add)
      plans.put(new java.io.File(tableDir).getCanonicalPath, q)
    }

    override def publishOnce(fs: FileSystem, tmp: Path, dest: Path): Unit = {
      // dest = <table>/_graft_log/vNNNNNNNN.json
      val table = new java.io.File(dest.toUri.getPath)
        .getParentFile.getParentFile.getCanonicalPath
      val action = Option(plans.get(table)).flatMap(q => Option(q.poll()))
        .getOrElse(Pass)
      action match {
        case Pass => inner.publishOnce(fs, tmp, dest)
        case CrashBefore =>
          // the dying writer cleans up nothing: tmp AND its data files
          // stay on disk as the orphans vacuum must later sweep
          throw new InjectedCrash(s"injected kill before publish of $dest")
        case CrashAfter =>
          inner.publishOnce(fs, tmp, dest)
          throw new InjectedCrash(s"injected kill after publish of $dest")
        case SpuriousRace =>
          fs.delete(tmp, false)
          throw new Versioned.CommitRace(s"injected race at $dest")
      }
    }
  }

  private def runSchedule(store: FaultInjectingLogStore, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    val dir = tmpDir(s"crash$seed")
    Versioned.append(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "s"), dir)
    var model = Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d")
    var nextId = 5L
    val nOps = 4 + rnd.nextInt(4)
    (1 to nOps).foreach { _ =>
      val races = Seq.fill(rnd.nextInt(3))(SpuriousRace)
      val finalAction = rnd.nextInt(4) match {
        case 0 => CrashBefore
        case 1 => CrashAfter
        case _ => Pass
      }
      store.arm(dir, races :+ finalAction)
      val v0 = Versioned.currentVersion(spark, dir).getOrElse(0L)
      // pick one random op, pairing its runner with its WOULD-BE model
      // effect BEFORE executing: whether the effect actually took is
      // decided by the LOG afterwards, never by whether the call threw
      // (a crash-after-publish op throws AND commits)
      val (run, effect): (() => Unit, Map[Long, String] => Map[Long, String]) =
        rnd.nextInt(5) match {
          case 0 =>
            val rows = Seq((nextId, s"r$nextId"), (nextId + 1, s"r${nextId + 1}"))
            nextId += 2
            (() => { Versioned.append(rows.toDF("id", "s"), dir); () },
              m => m ++ rows)
          case 1 =>
            (() => { Versioned.updateWhere(spark, dir, col("id") % 3 === 0,
                Map("s" -> concat(col("s"), lit("u")))); () },
              m => m.map { case (k, v) => k -> (if (k % 3 == 0) v + "u" else v) })
          case 2 =>
            (() => { Versioned.deleteWhere(spark, dir, col("id") % 4 === 1); () },
              m => m.filter { case (k, _) => k % 4 != 1 })
          case 3 =>
            val upd = model.keys.minOption.map(k => (k, s"m$k")).toSeq
            val ins = Seq((nextId, s"m$nextId"))
            nextId += 1
            (() => { Versioned.merge(spark, dir, (upd ++ ins).toDF("id", "s"),
                Seq("id")); () },
              m => m ++ upd ++ ins)
          case 4 =>
            (() => { Versioned.compact(spark, dir); () }, m => m)
        }
      try run() catch {
        case _: InjectedCrash => () // decided by the log below
        case _: Versioned.CommitRace => ()
      }
      val v1 = Versioned.currentVersion(spark, dir).getOrElse(0L)
      if (finalAction == CrashBefore)
        assert(v1 == v0, s"seed=$seed: crash BEFORE publish advanced the log")
      if (v1 > v0) model = effect(model)
      store.arm(dir, Nil) // discard unconsumed actions
    }

    def readState() =
      Versioned.read(spark, dir).as[(Long, String)].collect().toMap
    assert(readState() == model,
      s"seed=$seed: readable state diverged from the log's committed ops")

    // aggressive vacuum (negative retention: even just-crashed debris is
    // stale) must keep the head intact and reach a fixpoint
    Versioned.vacuum(spark, dir, keepVersions = 1, tmpRetentionMs = -1000L)
    assert(readState() == model, s"seed=$seed: vacuum damaged the head snapshot")
    val second = Versioned.vacuum(
      spark, dir, keepVersions = 1, tmpRetentionMs = -1000L, dryRun = true)
    assert(second.isEmpty,
      s"seed=$seed: vacuum left sweepable debris behind: $second")

    // every surviving data dir holds a live head file; no commit temps
    val head = Versioned.currentVersion(spark, dir).get
    val liveDirs = Versioned.filesAt(spark, dir, head)
      .map(_.split("/", 2)(0)).toSet
    val onDisk = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("d-"))
      .map(_.getName).toSet
    assert(onDisk == liveDirs,
      s"seed=$seed: orphan data dirs survived vacuum: ${onDisk -- liveDirs}")
    val tmps = Option(new java.io.File(dir, "_graft_log").listFiles())
      .getOrElse(Array.empty).map(_.getName).filter(_.endsWith(".tmp"))
    assert(tmps.isEmpty, s"seed=$seed: stale commit temps survived: ${tmps.toSeq}")
  }

  test("100 randomized crash schedules: no committed-state loss, vacuum converges") {
    val store = new FaultInjectingLogStore(HadoopFsLogStore)
    Versioned.withLogStore(store) {
      import scala.concurrent.duration._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      // 4-way parallel over DIFFERENT table dirs (the store's schedules
      // are keyed per table, so concurrent schedules never cross)
      val failures = Await.result(
        Future.traverse((1 to 100).toList) { seed =>
          Future(try { runSchedule(store, seed); None } catch {
            case e: Throwable => Some(seed -> e.getMessage)
          })
        }, 30.minutes).flatten
      assert(failures.isEmpty, s"failed schedules: $failures")
    }
  }
}
