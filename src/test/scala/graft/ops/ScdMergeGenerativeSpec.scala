package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Seeded-random generative pin for the SCD2 merge: iterated random
  * change batches applied through `ScdMerge.merge` are compared against
  * an INDEPENDENT driver-side SCD2 reference (a Map fold), so a slip in
  * the join/when/explode plumbing can't hide behind the hand-picked
  * fixture. Also pins the structural SCD2 invariants after every merge:
  * at most one open row per key, closed intervals chain valid_from →
  * valid_to without gaps, and history only ever grows. */
class ScdMergeGenerativeSpec extends SparkSpec {
  import spark.implicits._

  private case class Ver(seg: Option[String], nat: Long, from: Long,
                         to: Option[Long], current: Boolean)

  /** Driver-side reference: key → versions (ascending valid_from). */
  private def refMerge(hist: Map[Long, Vector[Ver]],
                       changes: Seq[(Long, Option[String], Long)],
                       version: Long): Map[Long, Vector[Ver]] =
    changes.foldLeft(hist) { case (h, (k, seg, nat)) =>
      h.get(k).flatMap(_.zipWithIndex.find(_._1.current)) match {
        case Some((open, i)) if open.seg == seg && open.nat == nat => h
        case Some((open, i)) =>
          h.updated(k, h(k)
            .updated(i, open.copy(to = Some(version), current = false))
            :+ Ver(seg, nat, version, None, current = true))
        case None =>
          h.updated(k, h.getOrElse(k, Vector.empty)
            :+ Ver(seg, nat, version, None, current = true))
      }
    }

  private def toRows(h: Map[Long, Vector[Ver]]): Set[(Long, Option[String], Long, Long, Option[Long], Boolean)] =
    h.iterator.flatMap { case (k, vs) =>
      vs.map(v => (k, v.seg, v.nat, v.from, v.to, v.current))
    }.toSet

  test("iterated random merges equal an independent driver-side SCD2 fold; invariants hold after every step") {
    for (seed <- Seq(11, 42, 97)) {
      val rnd = new scala.util.Random(seed)
      val keys = (1L to 40L).toVector
      val segs = Vector(Some("a"), Some("b"), Some("c"), None)
      var refHist: Map[Long, Vector[Ver]] = Map.empty
      var df = Seq.empty[(Long, Option[String], Long, Long, Option[Long], Boolean)]
        .toDF("key", "seg", "nat", "valid_from", "valid_to", "is_current")
      var fullLog = Vector.empty[(Long, Option[String], Long, Long)]
      var prevCount = 0L
      for (version <- 1L to 6L) {
        // random change batch: distinct keys, random attrs (None seg
        // exercises the null-safe compare)
        val batch = rnd.shuffle(keys).take(1 + rnd.nextInt(25))
          .map(k => (k, segs(rnd.nextInt(segs.size)), rnd.nextInt(3).toLong))
        refHist = refMerge(refHist, batch, version)
        fullLog ++= batch.map { case (k, s, n) => (k, s, n, version) }
        df = ScdMerge.merge(df,
          batch.map { case (k, s, n) => (k, s, n) }.toDF("key", "seg", "nat"),
          "key", Seq("seg", "nat"), version)
        val rows = df.collect().map(r => (r.getLong(0),
          Option(r.getString(1)), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
        withClue(s"seed $seed version $version: ") {
          rows.toSet shouldBe toRows(refHist)
          rows.length shouldBe rows.toSet.size // no duplicate rows
          // invariants: one open row per key; closed intervals chain
          for ((k, vs) <- rows.groupBy(_._1)) {
            vs.count(_._6) shouldBe 1
            val sorted = vs.sortBy(_._4)
            sorted.sliding(2).foreach {
              case Array(a, b) => a._5 shouldBe Some(b._4)
              case _ => ()
            }
            sorted.last._5 shouldBe None
          }
          // history only grows
          rows.length.toLong should be >= prevCount
          prevCount = rows.length.toLong
        }
        // re-materialize to keep the iterated plan shallow (the
        // contract operator is one merge; this loop is test plumbing)
        df = df.collect().toSeq.map(r => (r.getLong(0),
          Option(r.getString(1)), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
          .toDF("key", "seg", "nat", "valid_from", "valid_to", "is_current")
      }
      // the one-shot backfill over the SAME change log equals the
      // iterated fold row-for-row (fromChangeLog's contract)
      val backfill = ScdMerge.fromChangeLog(
          fullLog.toDF("key", "seg", "nat", "v"), "key", Seq("seg", "nat"), "v")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
      withClue(s"seed $seed backfill: ") {
        backfill.toSet shouldBe toRows(refHist)
        backfill.length shouldBe backfill.toSet.size
      }
    }
  }

  /** Driver-side reference WITH TOMBSTONES: op 'D' closes the open row
    * and inserts nothing (idempotent when no open row exists). */
  private def refMergeOps(hist: Map[Long, Vector[Ver]],
                          changes: Seq[(Long, String, Option[String], Long)],
                          version: Long): Map[Long, Vector[Ver]] =
    changes.foldLeft(hist) { case (h, (k, op, seg, nat)) =>
      (h.get(k).flatMap(_.zipWithIndex.find(_._1.current)), op) match {
        case (Some((open, i)), "D") =>
          h.updated(k, h(k).updated(i, open.copy(to = Some(version), current = false)))
        case (None, "D") => h
        case (Some((open, _)), _) if open.seg == seg && open.nat == nat => h
        case (Some((open, i)), _) =>
          h.updated(k, h(k)
            .updated(i, open.copy(to = Some(version), current = false))
            :+ Ver(seg, nat, version, None, current = true))
        case (None, _) =>
          h.updated(k, h.getOrElse(k, Vector.empty)
            :+ Ver(seg, nat, version, None, current = true))
      }
    }

  test("iterated random merges WITH DELETES equal the driver-side fold; backfillOps matches; PIT resolves gaps to null") {
    for (seed <- Seq(7, 59, 131)) {
      val rnd = new scala.util.Random(seed)
      val keys = (1L to 30L).toVector
      val segs = Vector(Some("a"), Some("b"), None)
      var refHist: Map[Long, Vector[Ver]] = Map.empty
      var df = Seq.empty[(Long, Option[String], Long, Long, Option[Long], Boolean)]
        .toDF("key", "seg", "nat", "valid_from", "valid_to", "is_current")
      var fullLog = Vector.empty[(Long, String, Option[String], Long, Long)]
      for (version <- 1L to 6L) {
        // ~1/3 deletes so tombstone-on-absent, delete-then-reinsert and
        // repeated-delete paths all occur across seeds
        val batch = rnd.shuffle(keys).take(1 + rnd.nextInt(20)).map { k =>
          val op = if (rnd.nextInt(3) == 0) "D" else "U"
          (k, op, segs(rnd.nextInt(segs.size)), rnd.nextInt(3).toLong)
        }
        refHist = refMergeOps(refHist, batch, version)
        fullLog ++= batch.map { case (k, o, s, n) => (k, o, s, n, version) }
        df = ScdMerge.mergeOps(df,
          batch.toDF("key", "op", "seg", "nat"),
          "key", Seq("seg", "nat"), "op", version)
        val rows = df.collect().map(r => (r.getLong(0),
          Option(r.getString(1)), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
        withClue(s"seed $seed version $version: ") {
          rows.toSet shouldBe toRows(refHist)
          rows.length shouldBe rows.toSet.size
          // at most ONE open row per key (zero after a delete); closed
          // intervals never overlap (valid_to <= next valid_from — gaps
          // are legal after deletes)
          for ((_, vs) <- rows.groupBy(_._1)) {
            vs.count(_._6) should be <= 1
            val sorted = vs.sortBy(_._4)
            sorted.sliding(2).foreach {
              case Array(a, b) => a._5.get should be <= b._4
              case _ => ()
            }
          }
        }
        df = df.collect().toSeq.map(r => (r.getLong(0),
          Option(r.getString(1)), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
          .toDF("key", "seg", "nat", "valid_from", "valid_to", "is_current")
      }
      val backfill = ScdMerge.fromChangeLogOps(
          fullLog.toDF("key", "op", "seg", "nat", "v"),
          "key", Seq("seg", "nat"), "v", "op")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5)))
      withClue(s"seed $seed backfillOps: ") {
        backfill.toSet shouldBe toRows(refHist)
        backfill.length shouldBe backfill.toSet.size
      }
      // point-in-time against the delete-bearing history: every (key, t)
      // probe equals the driver-side interval scan — in particular t
      // inside a post-delete GAP resolves to null attrs
      val probes = for (k <- keys; t <- 0L to 7L) yield (k, t)
      val pit = ScdMerge.pointInTime(df, probes.toDF("key", "t"),
          "key", "t", Seq("seg", "nat"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (Option(r.getString(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      for ((k, t) <- probes) {
        val expected = refHist.getOrElse(k, Vector.empty)
          .find(v => v.from <= t && v.to.forall(_ > t))
        withClue(s"seed $seed PIT key=$k t=$t: ") {
          pit((k, t)) shouldBe ((expected.flatMap(_.seg), expected.map(_.nat)))
        }
      }
      // HARD ERASE: keys merge independently, so purging a key's rows IS
      // never having merged it — erase(fold(log)) ≡ fold(filtered log);
      // a ghost key (never existed) erases as an idempotent no-op
      val erased = rnd.shuffle(keys).take(5) :+ 999999L
      val erasedSet = erased.toSet
      def rowSet(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => (r.getLong(0), Option(r.getString(1)),
          r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getBoolean(5))).toSet
      val refFiltered = toRows(refHist).filterNot(t => erasedSet(t._1))
      withClue(s"seed $seed erase: ") {
        rowSet(ScdMerge.eraseKeys(df, erased.toDF("key"), "key")) shouldBe refFiltered
        rowSet(ScdMerge.fromChangeLogOps(
          fullLog.filterNot(r => erasedSet(r._1)).toDF("key", "op", "seg", "nat", "v"),
          "key", Seq("seg", "nat"), "v", "op")) shouldBe refFiltered
      }
      // PIT after erase: erased keys resolve to null attrs at EVERY t
      val pitAfter = ScdMerge.pointInTime(ScdMerge.eraseKeys(df, erased.toDF("key"), "key"),
          probes.toDF("key", "t"), "key", "t", Seq("seg", "nat"))
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (Option(r.getString(2)),
            if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
      for ((k, t) <- probes) {
        withClue(s"seed $seed post-erase PIT key=$k t=$t: ") {
          if (erasedSet(k)) pitAfter((k, t)) shouldBe ((None, None))
          else pitAfter((k, t)) shouldBe pit((k, t))
        }
      }
    }
  }
}
