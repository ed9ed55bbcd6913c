package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.apache.spark.sql.functions._

/** ZTable mutation fuzzing against set-algebra oracles — every
  * copy-on-write rewrite (merge, deleteMatching, deleteWhere, compact,
  * migrate) for ANY table/delta shape. The generator drives the
  * known-treacherous edges on purpose: null timestamps (hive-default
  * partition routing), replacements whose ts differs from the old
  * row's (cross-partition moves), duplicate keys on both sides, empty
  * tables and empty deltas, and FULL WIPES — the delete-to-empty shape
  * whose readability hole the r9 judge reproduced.
  *
  * Split from [[PropertyChecks]]: each case costs several Spark write
  * jobs, so these run fewer cases. Seed policy is [[PropSeed]]'s
  * (pinned by default, GRAFT_PROP_SEED=random to diversify). */
object MutationProps extends Properties("graft.ztable") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropSeed(p, minSuccessful = 15)

  private lazy val spark = SparkSpec.session
  import spark.implicits._

  // Contract under test for merge, for ANY table/delta shape: the
  // post-merge row multiset equals (table rows whose key is NOT in the
  // delta) ++ ALL delta rows; counts are (matched table rows, delta size).
  private val mergeRow: Gen[(Long, Option[Int], Double)] = for {
    id <- Gen.choose(0L, 11L)
    day <- Gen.frequency(4 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
    v <- Gen.choose(1, 99)
  } yield (id, day, v.toDouble)

  private def dayTs(d: Int) = Timestamp.valueOf(f"2024-01-${d + 1}%02d 12:00:00")

  private def frame(rows: List[(Long, Option[Int], Double)]) =
    rows.map { case (id, d, v) => (id, d.map(dayTs).orNull, v) }
      .toDF("id", "ts", "v")

  private def build(dir: java.nio.file.Path, tbl: List[(Long, Option[Int], Double)],
      batches: Int = 1): graft.sources.ZTable = {
    import graft.sources.{ZTable, ZTableSpec, ZPartitionBy}
    val t = ZTable.create(spark, dir.toString,
      ZTableSpec(tsCol = "ts", partitionBy = ZPartitionBy.Day,
        strictOrder = false))
    if (tbl.nonEmpty)
      tbl.grouped(math.max(1, (tbl.size + batches - 1) / batches))
        .foreach(b => t.append(frame(b)))
    t
  }

  private def readBack(t: graft.sources.ZTable): List[(Long, Option[Int], Double)] =
    t.df.collect().map { r =>
      val d = if (r.isNullAt(r.fieldIndex("ts"))) None
        else Some(r.getAs[Timestamp]("ts").toLocalDateTime.getDayOfMonth - 1)
      (r.getAs[Long]("id"), d, r.getAs[Double]("v"))
    }.toList.sorted

  private def withTable[T](prefix: String)(f: java.nio.file.Path => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  property("ZTable.merge == delete-matching-then-insert for any shape") =
    Prop.forAllNoShrink(
      Gen.choose(0, 16).flatMap(Gen.listOfN(_, mergeRow)),
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, mergeRow))) { (tbl, delta) =>
      withTable("graft_prop_merge_") { dir =>
        val t = build(dir, tbl)
        val (replaced, written) = t.merge(frame(delta), Seq("id"))
        val deltaKeys = delta.map(_._1).toSet
        val expected = (tbl.filterNot(r => deltaKeys(r._1)) ++ delta).sorted
        val wantReplaced = tbl.count(r => deltaKeys(r._1)).toLong
        readBack(t) == expected && replaced == wantReplaced &&
          written == delta.size.toLong
      }
    }

  property("ZTable.deleteMatching removes exactly the keyed rows for any shape") =
    Prop.forAllNoShrink(
      Gen.choose(0, 16).flatMap(Gen.listOfN(_, mergeRow)),
      Gen.choose(0, 6).flatMap(Gen.listOfN(_, Gen.choose(0L, 11L)))) { (tbl, keys) =>
      withTable("graft_prop_del_") { dir =>
        val t = build(dir, tbl)
        val n = t.deleteMatching(keys.toDF("id"), "id")
        val keySet = keys.toSet
        readBack(t) == tbl.filterNot(r => keySet(r._1)).sorted &&
          n == tbl.count(r => keySet(r._1)).toLong
      }
    }

  // deleteWhere shares deleteMatching's rewrite machinery but probes
  // with a pushed predicate; the cutoff generator reaches BOTH
  // endpoints (cut=0 deletes nothing, cut=99 wipes the table — the
  // delete-to-empty readability shape).
  property("ZTable.deleteWhere == filterNot(pred) for any shape incl. full wipe") =
    Prop.forAllNoShrink(
      Gen.choose(0, 16).flatMap(Gen.listOfN(_, mergeRow)),
      Gen.choose(0, 99)) { (tbl, cut) =>
      withTable("graft_prop_delw_") { dir =>
        val t = build(dir, tbl)
        val n = t.deleteWhere(col("v") <= lit(cut.toDouble))
        readBack(t) == tbl.filterNot(_._3 <= cut).sorted &&
          n == tbl.count(_._3 <= cut).toLong
      }
    }

  // compact must preserve the row multiset EXACTLY for any layout —
  // plain ts compaction and z-order (clusterBy) rewrites alike, over
  // multi-batch small-file layouts, null-ts partitions included — and
  // the table must stay appendable after the swap.
  property("ZTable.compact preserves the row multiset for any layout and clusterBy") =
    Prop.forAllNoShrink(for {
      tbl <- Gen.choose(1, 16).flatMap(Gen.listOfN(_, mergeRow))
      batches <- Gen.choose(1, 4)
      cluster <- Gen.oneOf(Seq.empty[String], Seq("id"), Seq("v"), Seq("id", "v"))
      target <- Gen.oneOf(2048L, 128L * 1024 * 1024)
    } yield (tbl, batches, cluster, target)) { case (tbl, batches, cluster, target) =>
      withTable("graft_prop_compact_") { dir =>
        val t = build(dir, tbl, batches)
        val before = readBack(t)
        t.compact(target, clusterBy = cluster)
        val after = readBack(t)
        t.append(frame(List((99L, Some(3), 1.0))))
        after == before && t.df.count() == tbl.size + 1L
      }
    }

  // migrate = the same rows with one column retyped; empty source
  // tables (never appended AND emptied) carry the recorded schema.
  property("ZTable.migrateColumn retypes without row loss for any shape") =
    Prop.forAllNoShrink(
      Gen.choose(1, 16).flatMap(Gen.listOfN(_, mergeRow)),
      Gen.oneOf(true, false)) { (tbl, emptyFirst) =>
      withTable("graft_prop_mig_") { dir =>
        val t = build(dir, tbl)
        if (emptyFirst) t.deleteWhere(lit(true))
        val out = t.migrateColumn("v", "long", dir.resolve("out").toString)
        val kept = if (emptyFirst) Nil else tbl
        val got = out.df.collect().map { r =>
          val d = if (r.isNullAt(r.fieldIndex("ts"))) None
            else Some(r.getAs[Timestamp]("ts").toLocalDateTime.getDayOfMonth - 1)
          (r.getAs[Long]("id"), d, r.getAs[Long]("v"))
        }.toList.sorted
        got == kept.map { case (id, d, v) => (id, d, v.toLong) }.sorted &&
          out.df.schema("v").dataType.simpleString == "bigint"
      }
    }

  // The ts-bounds stamp under ANY sequence of writes: appends (strict
  // and not, empty batches included), deletes down to full wipes,
  // merges and compactions. Whenever the stamp exists it equals
  // min/max(ts) over the table, and a strict append is accepted exactly
  // when no row precedes the table's TRUE last ts — lowerThenAppend
  // deletes the newest days, then appends between the new and the old
  // max, which a stale stamp would reject.
  private type Tbl = List[(Long, Option[Int], Double)]
  private sealed trait Step
  private case class AppendRows(rows: Tbl, strict: Boolean) extends Step
  private case class DeleteUpTo(cut: Int) extends Step
  private case class DeleteKeys(keys: List[Long]) extends Step
  private case class MergeRows(rows: Tbl) extends Step
  private case object Compact extends Step
  private case class LowerThenAppend(day: Int) extends Step

  private val step: Gen[Step] = Gen.oneOf(
    for { rows <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, mergeRow))
          strict <- Gen.oneOf(true, false) } yield AppendRows(rows, strict),
    Gen.frequency(3 -> Gen.choose(0, 99), 1 -> Gen.const(99)).map(DeleteUpTo(_)),
    Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.choose(0L, 11L))).map(DeleteKeys(_)),
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, mergeRow)).map(MergeRows(_)),
    Gen.const(Compact),
    Gen.choose(0, 3).map(LowerThenAppend(_)))

  property("ZTable ts-bounds stamp stays exact and never wrongly rejects a strict append") =
    Prop.forAllNoShrink(
      Gen.choose(0, 8).flatMap(Gen.listOfN(_, mergeRow)),
      Gen.choose(1, 5).flatMap(Gen.listOfN(_, step))) { (tbl, steps) =>
      withTable("graft_prop_stamp_") { dir =>
        val t = build(dir, tbl)
        val strictT = new graft.sources.ZTable(spark, dir.toString,
          t.spec.copy(strictOrder = true))
        val stamp = dir.resolve(graft.sources.ZTable.TsBoundsFile)
        def maxDay(m: Tbl) = m.flatMap(_._2).maxOption
        // strict: accepted iff every non-null ts is at or after the last
        def strictAppend(m: Tbl, rows: Tbl): (Tbl, Boolean) = {
          val ok = maxDay(m).forall(last => rows.flatMap(_._2).forall(_ >= last))
          val accepted =
            try { strictT.append(frame(rows)); true }
            catch { case _: IllegalStateException => false }
          (if (accepted) m ++ rows else m, accepted == ok)
        }
        steps.foldLeft((tbl, true)) { case ((model, okSoFar), s) =>
          val (next, outcomeOk) = s match {
            case AppendRows(rows, true) => strictAppend(model, rows)
            case AppendRows(rows, false) => t.append(frame(rows)); (model ++ rows, true)
            case DeleteUpTo(cut) =>
              t.deleteWhere(col("v") <= lit(cut.toDouble)); (model.filterNot(_._3 <= cut), true)
            case DeleteKeys(keys) =>
              t.deleteMatching(keys.toDF("id"), "id")
              (model.filterNot(r => keys.contains(r._1)), true)
            case MergeRows(rows) =>
              t.merge(frame(rows), Seq("id"))
              val ks = rows.map(_._1).toSet
              (model.filterNot(r => ks(r._1)) ++ rows, true)
            case Compact => t.compact(2048L); (model, true)
            case LowerThenAppend(day) =>
              t.deleteWhere(col("ts") >= lit(dayTs(day)))
              val lowered = model.filterNot(_._2.exists(_ >= day))
              val (m, ok) = strictAppend(lowered, List((99L, Some(day), 1.0)))
              (m, ok && m.size == lowered.size + 1)
          }
          val got = readBack(t)
          val days = got.flatMap(_._2)
          val stampOk = !java.nio.file.Files.exists(stamp) ||
            t.firstLastTs == ((days.minOption.map(dayTs).orNull, days.maxOption.map(dayTs).orNull))
          (next, okSoFar && outcomeOk && stampOk && got == next.sorted)
        }._2
      }
    }
}
