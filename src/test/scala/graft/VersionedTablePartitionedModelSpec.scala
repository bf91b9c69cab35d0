package graft

import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Model-based randomized lifecycle test over the HIVE-PARTITIONED commit
  * surface — the partitioned sibling of [[VersionedTableModelSpec]]: a
  * seeded random sequence of createPartitioned / commitPartitioned (all
  * three modes) / DV delete / optimizePartitioned / coalesceDv / restore /
  * autoMaintain / vacuum against an in-memory model, checking the latest
  * read, sampled time travel, the PRUNED per-partition read, and the live
  * per-partition count face after every step. The specific interaction
  * class this exists for: dynamic-partition-overwrite's "touched =
  * partitions present in the commit" rule composing with DV carry,
  * restore's verbatim entries, layout-preserving maintenance, and
  * retention. */
class VersionedTablePartitionedModelSpec extends SparkSpec {
  import spark.implicits._

  private val plainParts = Vector("a", "b", "c")
  /** Values whose partition directories need escaping: a space (URI
    * escaped, `%20`), a `%` (escaped by Spark's partition writer and
    * again in the URI), and non-ASCII. */
  private val escapingParts = Vector("a b", "c%d", "é")

  private def fresh() =
    java.nio.file.Files.createTempDirectory("graft_vt_pmodel").toString + "/t"

  // rows keyed by id: id -> (partition, value)
  private def toDF(rows: Map[Long, (String, Long)]): DataFrame =
    rows.toSeq.map { case (id, (p, v)) => (id, p, v) }
      .sortBy(_._1).toDF("id", "p", "v")

  /** Sorted tuples, not a Map: duplicate-id bugs must fail the compare. */
  private def readRows(df: DataFrame): Seq[(Long, String, Long)] =
    df.select("id", "p", "v").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq.sorted

  private def expect(rows: Map[Long, (String, Long)]): Seq[(Long, String, Long)] =
    rows.toSeq.map { case (id, (p, v)) => (id, p, v) }.sorted

  private def run(seed: Long, steps: Int, parts: Vector[String] = plainParts): Unit = {
    val rng = new scala.util.Random(seed)
    val path = fresh()
    var nextId = 0L
    def freshRows(k: Int): Map[Long, (String, Long)] =
      (0 until k).map { _ =>
        val id = nextId; nextId += 1
        id -> (parts(rng.nextInt(parts.length)), rng.nextInt(1000).toLong)
      }.toMap

    val model = scala.collection.mutable.Map[Long, Map[Long, (String, Long)]]()
    val trace = scala.collection.mutable.ArrayBuffer[String]()

    val r0 = freshRows(6 + rng.nextInt(6))
    VersionedTable.createPartitioned(toDF(r0), path, "p")
    model(0L) = r0

    def latest: Long = VersionedTable.latestVersion(path).get
    def cur: Map[Long, (String, Long)] = model(latest)

    for (step <- 1 to steps) {
      val prevLatest = latest
      val prev = cur
      var predicted: Map[Long, (String, Long)] = prev
      val op = rng.nextInt(13) match {
        case 0 | 1 | 2 => // append fresh rows across random partitions
          val rows = freshRows(1 + rng.nextInt(5))
          VersionedTable.commitPartitioned(toDF(rows), path, "p", "append")
          predicted = prev ++ rows
          s"append(${rows.size})"
        case 3 => // full overwrite (drops the DV list)
          var next = prev.filter(_ => rng.nextDouble() >= 0.3)
            .map { case (id, (p, v)) =>
              id -> (p, if (rng.nextDouble() < 0.3) v + 1000 else v) }
          if (next.isEmpty) next = freshRows(2)
          VersionedTable.commitPartitioned(toDF(next), path, "p", "overwrite")
          predicted = next
          "overwrite"
        case 4 | 5 => // dynamic partition overwrite: touched = present in df
          val target = parts(rng.nextInt(parts.length))
          // replacement for ONE partition: mutate its survivors + a fresh row
          val replaced = prev.collect {
            case (id, (p, v)) if p == target && rng.nextDouble() >= 0.4 =>
              id -> (p, v + 100)
          } ++ freshRows(1).map { case (id, (_, v)) => id -> (target, v) }
          VersionedTable.commitPartitioned(toDF(replaced), path, "p",
            "overwritePartitions")
          predicted = prev.filterNot { case (_, (p, _)) => p == target } ++ replaced
          s"overwritePartitions($target)"
        case 6 | 7 => // DV delete; guarded so the table never goes empty
          val m = Seq(2, 3, 5)(rng.nextInt(3))
          val r = rng.nextInt(m)
          val next = prev.filter { case (id, _) => id % m != r }
          if (next.nonEmpty && next.size < prev.size) {
            VersionedTable.deleteWhere(spark, path, col("id") % m === r)
            predicted = next
            s"delete(id%$m==$r)"
          } else s"delete-skipped(id%$m==$r)"
        case 8 | 9 => // layout-preserving per-partition rewrite
          val live = VersionedTable.partitionsAt(path, latest, "p")
          val values = rng.shuffle(live).take(1 + rng.nextInt(live.length))
          VersionedTable.optimizePartitioned(spark, path, "p", values,
            targetBytes = 1L << 20, sortCol = "id")
          s"optimizePartitioned(${values.mkString(",")})"
        case 10 =>
          VersionedTable.coalesceDv(spark, path)
          "coalesceDv"
        case 11 =>
          val retained = VersionedTable.versions(path)
          val rv = retained(rng.nextInt(retained.length))
          VersionedTable.restore(path, rv)
          predicted = model(rv)
          s"restore($rv)"
        case 12 => // nightly job; must route layout-preserving on k=v
          val acted = VersionedTable.autoMaintain(spark, path,
            targetBytes = 1L << 20, maxDvShards = 3)
          assert(!acted.contains("optimize"),
            s"autoMaintain ran a FLATTENING optimize on a partitioned table: $acted")
          s"autoMaintain(${acted.mkString("+")})"
      }
      trace += op
      val ctx = s"seed=$seed step=$step after ${trace.mkString(" -> ")}"

      val newLatest = latest
      ((prevLatest + 1) to newLatest).foreach(v => model(v) = predicted)

      if (rng.nextDouble() < 0.15) {
        val retainedBefore = VersionedTable.versions(path)
        val keep = 1 + rng.nextInt(retainedBefore.length)
        VersionedTable.vacuum(path, keepVersions = keep, minAgeMs = 0L)
        trace += s"vacuum(keep=$keep)"
        assert(VersionedTable.versions(path) == retainedBefore.takeRight(keep),
          s"$ctx: vacuum(keep=$keep) retained wrong set")
      }

      assert(readRows(VersionedTable.read(spark, path)) == expect(model(latest)),
        s"$ctx: latest read diverged from model")

      if (step % 3 == 0) {
        val retained = VersionedTable.versions(path)
        (0 until 2).foreach { _ =>
          val v = retained(rng.nextInt(retained.length))
          assert(readRows(VersionedTable.readVersion(spark, path, v)) == expect(model(v)),
            s"$ctx: time travel to v$v diverged from model")
        }
        // pruned read of one random partition == model filtered to it
        val target = parts(rng.nextInt(parts.length))
        assert(readRows(VersionedTable.readWherePartitions(
            spark, path, latest, "p", Seq(target))) ==
          expect(model(latest).filter { case (_, (p, _)) => p == target }),
          s"$ctx: pruned read of p=$target diverged from model")
      }

      // composed read: exact partition prune + stats-sidecar skip +
      // residual + DV must equal the model's filter (the sidecar exists
      // on versions a step-%5 pass below stamped, is carried/refreshed
      // by optimizePartitioned on others, and is absent on the rest —
      // every coverage state must read correctly)
      if (step % 4 == 0 && nextId > 0) {
        val target = parts(rng.nextInt(parts.length))
        val lo = rng.nextInt(nextId.toInt).toLong
        val hi = math.min(nextId - 1, lo + rng.nextInt((nextId - lo).toInt) + 1)
        assert(readRows(VersionedTable.readWherePartitionsAnd(
            spark, path, latest, "p", Seq(target), Seq(("id", lo, hi)))) ==
          expect(model(latest).filter { case (id, (p, _)) =>
            p == target && id >= lo && id <= hi }),
          s"$ctx: composed read (p=$target, id in [$lo,$hi]) diverged")
      }

      if (step % 5 == 0) { // live per-partition counts vs the model's GROUP BY
        VersionedTable.writeStats(spark, path, latest, "id")
        VersionedTable.writeCounts(spark, path, latest)
        val got = VersionedTable.partitionRowCountsLive(
          spark, path, latest, "p", dropEmpty = true)
        val want = model(latest).groupBy(_._2._1)
          .map { case (p, rows) => p -> rows.size.toLong }
          .toSeq.sorted
        assert(got.map(_.sorted).contains(want),
          s"$ctx: partitionRowCountsLive $got != model $want")
      }
    }

    VersionedTable.versions(path).foreach { v =>
      assert(readRows(VersionedTable.readVersion(spark, path, v)) == expect(model(v)),
        s"seed=$seed final sweep: v$v diverged after ${trace.mkString(" -> ")}")
    }
  }

  // default gate: 6 seeds, matching the flat-layout model suite
  (1 to 6).foreach { s =>
    test(s"randomized partitioned lifecycle vs model (seed $s)") {
      run(seed = s.toLong, steps = 20)
    }
  }

  // the same lifecycle on partition values that need escaping
  (1 to 3).foreach { s =>
    test(s"randomized partitioned lifecycle vs model, escaping values (seed $s)") {
      run(seed = 100L + s, steps = 20, parts = escapingParts)
    }
  }

  // opt-in soak (GRAFT_MODEL_SOAK=<n>): n extra seeds at 40 steps each
  sys.env.get("GRAFT_MODEL_SOAK").flatMap(_.toIntOption).filter(_ > 0)
    .foreach { n =>
      (7 to 6 + n).foreach { s =>
        test(s"randomized partitioned lifecycle vs model (soak seed $s)") {
          run(seed = s.toLong, steps = 40)
        }
      }
    }
}
