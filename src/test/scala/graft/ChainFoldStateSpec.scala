package graft

import scala.util.{Failure, Random, Success, Try}

import org.apache.spark.sql.{Column, DataFrame}

import graft.model.TaskStatus
import graft.sources.StateStore
import graft.streaming.{ConsumerPipeline, ResumableConsumer, TaskDef, TaskRun}
import graft.streaming.ConsumerPipeline.{ChainMsg, Letter}

/** The consumer's chain fold writes a delivery's merged state and its
  * once-only dead letters itself. Over random prior tables and
  * deliveries, its state rows must equal `StateStore.upsert` of the
  * prior table with the delivery's task-node rows and markers on
  * `(chainKey, msgId, task)`, and its letters the old whole-table
  * once-only anti-join, each as a multiset. */
class ChainFoldStateSpec extends SparkSpec {
  import ChainFoldStateSpec._

  /** The once-only guard the fold replaced: a LEFT-ANTI equi-join of the
    * bad records against every prior msgId. */
  private def onceOnly(rows: DataFrame, idCol: Column,
      priorIds: DataFrame): DataFrame =
    rows.join(priorIds, idCol === priorIds("msgId"), "left_anti")

  private def trial(rnd: Random, t: String, perKey: Boolean,
      eventKeyed: Boolean): Trial = {
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.length))
    def chance(p: Double) = rnd.nextDouble() < p
    val states = TaskStatus.all
    def priorRun(chainKey: String, msgId: String, task: String) =
      TaskRun(chainKey, msgId, task, pick(states: _*), rnd.nextInt(4),
        pick(null, "boom"))
    // a usable record's message id: its eventID, or a business key drawn
    // from a small pool, so one message can arrive twice
    def businessKey(key: String) =
      s"B|$t/id${rnd.nextInt(3)}|$key|${rnd.nextInt(2)}|md5"
    val records = (0 until 1 + rnd.nextInt(9)).map { i =>
      val eventID = if (chance(0.05)) null else s"$t/e$i"
      val soid = if (eventKeyed) Option(eventID).map("E|" + _).orNull
        else s"S|$t/s${rnd.nextInt(2)}"
      val key = s"k${rnd.nextInt(3)}"
      (eventID, soid, key, pick("usable", "usable", "unusable", "rejected"))
    }
    val delivered = records.zipWithIndex.map {
      case ((eventID, soid, key, "usable"), i) if eventID != null =>
        val chainKey = if (perKey) s"$soid|$key" else soid
        ChainMsg(chainKey, if (chance(0.5)) eventID else businessKey(key),
          i.toLong, pick("ok", "poison"), soid)
      case ((eventID, soid, _, kind), _) =>
        val (task, state, letter) =
          if (kind == "rejected") ("rejectedMessage", TaskStatus.Rejected, "DM")
          else ("unusableRecord", TaskStatus.Discarded, "DR")
        ChainMsg(soid, eventID, 1L, null, soid,
          Some(TaskRun(soid, eventID, task, state, 0, s"$kind reason")),
          Some(Letter(letter, s"$letter envelope of $eventID")))
    }
    // history: rows of the delivered chains (earlier runs of these
    // messages, markers of these bad records, legacy keys, duplicates),
    // chains this delivery does not carry, processAll masters and null
    // key parts
    val carried = delivered.flatMap { m =>
      m.marker match {
        case Some(mk) =>
          if (chance(0.5)) Seq.fill(1 + rnd.nextInt(2))(mk) else Nil
        case None =>
          val key = m.chainKey.split('|').last
          paths.filter(_ => chance(0.5)).map(priorRun(m.chainKey, m.msgId, _)) ++
            (if (chance(0.3)) Seq(priorRun(m.chainKey,
              s"B|$t/id${rnd.nextInt(3)}|$key|0", pick(paths: _*))) else Nil)
      }
    }
    val others = (0 until rnd.nextInt(4)).flatMap { j =>
      val chainKey = pick(s"S|$t/s9", s"S|$t/s9|k0", s"E|$t/old$j")
      Seq.fill(1 + rnd.nextInt(3))(priorRun(chainKey, s"$t/old$j",
        pick(("unusableRecord" +: paths): _*)))
    }
    val masters = records.map(_._2).distinct.filter(_ => chance(0.4))
      .map(soid => priorRun(ConsumerPipeline.MasterKeyPrefix + soid,
        "processAll", "processAll"))
    val nulls = if (chance(0.1)) Seq(priorRun(null, s"$t/n", "a"),
      priorRun(pick(delivered.map(_.chainKey): _*), null, "a")) else Nil
    val dups = (carried ++ others).filter(_ => chance(0.2))
      .map(r => if (chance(0.5)) r else r.copy(state = pick(states: _*)))
    Trial(rnd.shuffle(carried ++ others ++ masters ++ nulls ++ dups),
      rnd.shuffle(delivered))
  }

  /** The chain fold over a real cogroup, as `ConsumerPipeline.multi`
    * runs it: state rows and letters. */
  private def fold(prior: Seq[TaskRun], delivered: Seq[ChainMsg])
      : (Seq[TaskRun], Seq[Letter]) = {
    import spark.implicits._
    val out = delivered.toDS().groupByKey(_.chainKey)
      .cogroup(prior.toDS().groupByKey(_.chainKey)) { (_, ms, ps) =>
        ConsumerPipeline.foldChain(ps.toSeq, ms.toSeq, registry, MaxAttempts)
          .iterator
      }.collect().toSeq
    (out.flatMap(_.node), out.flatMap(_.letter))
  }

  /** The old finalise: each chain's task runs plus the bad records'
    * markers upserted onto the prior table, and the letters of the bad
    * records no prior row names. */
  private def reference(prior: Seq[TaskRun], delivered: Seq[ChainMsg])
      : (Seq[TaskRun], Seq[Letter]) = {
    import spark.implicits._
    val priorByChain = prior.groupBy(_.chainKey)
    val updates = delivered.groupBy(_.chainKey).toSeq.flatMap {
      case (chainKey, ms) =>
        val priorByMsg = priorByChain.getOrElse(chainKey, Nil)
          .groupBy(_.msgId)
          .map { case (id, rs) => id -> rs.map(r => r.task -> r).toMap }
        ResumableConsumer.executeChainTasks(priorByMsg,
          ms.filter(_.marker.isEmpty).map(_.msg), registry, MaxAttempts) ++
          ms.flatMap(_.marker)
    }
    val state = StateStore.upsert(prior.toDF(), updates.toDF(),
      Seq("chainKey", "msgId", "task")).as[TaskRun].collect().toSeq
    val bad = delivered.flatMap(m => m.letter.map(l =>
      (m.msgId, l.kind, l.envelope))).toDF("eventID", "kind", "envelope")
    val letters = onceOnly(bad, bad("eventID"), prior.toDF().select("msgId"))
      .select("kind", "envelope").as[Letter].collect().toSeq
    (state, letters)
  }

  private def multiset[A](xs: Seq[A]): Seq[String] = xs.map(_.toString).sorted

  test("the fold's state rows equal the upsert and its letters the " +
      "whole-table once-only guard over random priors and deliveries") {
    val rnd = new Random(20261021)
    val trials = for {
      perKey <- Seq(false, true)
      eventKeyed <- Seq(false, true)
      i <- 0 until 12
    } yield trial(rnd, s"p$perKey-e$eventKeyed-$i", perKey, eventKeyed)
    // the namespaces keep the trials apart, so one run checks them all
    val prior = trials.flatMap(_.prior)
    val delivered = trials.flatMap(_.delivered)
    val (state, letters) = fold(prior, delivered)
    val (refState, refLetters) = reference(prior, delivered)
    info(s"${prior.size} prior rows, ${delivered.size} delivered, " +
      s"${state.size} state rows, ${letters.size} letters")
    assert(delivered.exists(_.marker.isEmpty) &&
      delivered.exists(_.letter.exists(_.kind == "DR")) &&
      delivered.exists(_.letter.exists(_.kind == "DM")))
    assert(letters.nonEmpty && letters.size < delivered.count(_.letter.nonEmpty),
      "the draw should hold both new and already-written bad records")
    assert(multiset(state) === multiset(refState))
    assert(multiset(letters) === multiset(refLetters))
  }

  test("the one case the chain-scoped guard differs: a prior message row " +
      "in another per-key chain whose msgId is a bad record's eventID") {
    // e1 was usable under an earlier configuration: its message row sits
    // in per-key chain S|s0|k1, keyed by its eventID. Now it is rejected,
    // and its marker and letter go to chain S|s0.
    val prior = Seq(TaskRun("S|s0|k1", "e1", "a", TaskStatus.Completed, 1))
    val rejected = ChainMsg("S|s0", "e1", 1L, null, "S|s0",
      Some(TaskRun("S|s0", "e1", "rejectedMessage", TaskStatus.Rejected, 0,
        "Missing property [key]")),
      Some(Letter("DM", "envelope of e1")))
    val (state, letters) = fold(prior, Seq(rejected))
    val (refState, refLetters) = reference(prior, Seq(rejected))
    assert(multiset(state) === multiset(refState))
    assert(refLetters.isEmpty)
    assert(letters === Seq(Letter("DM", "envelope of e1")))
  }
}

object ChainFoldStateSpec {
  val MaxAttempts = 2

  /** One random delivery over a prior table whose history came from the
    * same configuration. */
  final case class Trial(prior: Seq[TaskRun], delivered: Seq[ChainMsg])

  /** A task with a sub-task: `poison` payloads fail the parent. */
  val registry = Seq(TaskDef("a",
    p => if (p.contains("poison")) Failure(new RuntimeException("poison"))
      else Success(()),
    Seq(TaskDef("b", _ => Try(())))))

  val paths: Seq[String] = registry.flatMap(_.paths())
}
