package graft

import org.apache.spark.sql.functions._
import graft.operators.Layout

/** Data-layout queries: Z-order clustering as a first-class, oracle-gated
  * catalog row. The fidelity query rewrites lineitem Z-ordered by
  * (l_partkey, l_suppkey) and answers a two-column box predicate FROM THE
  * REWRITTEN LAYOUT; the oracle answers the same predicate from the
  * source table — a hash match proves the rewrite is lossless and the
  * curve-ordered read path returns exactly the relational answer. The
  * pruning query surfaces the file-skipping arithmetic itself (survivors
  * under min/max pruning, Z-order vs linear sort), the number that
  * justifies the layout at 100 TB. */
object LayoutQueries {

  /** Overwritten every run (no staleness, no /tmp accumulation): the
    * write IS the operator under measurement — one metadata-scale min/max
    * agg + a quantile pass + one shuffle + local sorts; see
    * `operators/Layout.scala`. */
  private def layoutDir(dir: String, tag: String): String =
    s"/tmp/graft-lay-$tag-${dir.replaceAll("[^A-Za-z0-9.]", "_")}"

  private val ZCols = Seq("l_partkey", "l_suppkey")
  private val Files = 16
  // ~3.8%-selective two-column box: selective on BOTH dims, so a linear
  // partkey sort prunes one dim and Z-order prunes both
  private val Box = Map("l_partkey" -> (100.0, 300.0), "l_suppkey" -> (5.0, 40.0))

  /** The shared fidelity probe: the box predicate + per-flag aggregate
    * every lay_* fidelity row answers FROM its rewritten layout — ONE
    * definition so the four oracle-paired queries cannot drift apart
    * (their SQL texts share the same shape verbatim). */
  private def boxAgg(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    df.where(col("l_partkey").between(100, 300) &&
        col("l_suppkey").between(5, 40))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n"),
        round(sum(col("l_quantity")), 6).as("sum_qty"),
        min(col("l_orderkey")).cast("long").as("min_ok"),
        max(col("l_orderkey")).cast("long").as("max_ok"))
      .orderBy(col("l_returnflag"))

  val all: Seq[QueryDef] = Seq(

    // Round-trip fidelity through the Z-ordered layout: write the curve-
    // clustered copy, then answer the box predicate from it. The oracle
    // reads the source table directly — the layout must be invisible to
    // query results. l_quantity is whole-valued, so its sum is exact in
    // double on both engines.
    QueryDef("lay_zorder")(
      """SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   ROUND(sum(l_quantity), 6) AS sum_qty,
        |   CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |   CAST(max(l_orderkey) AS BIGINT) AS max_ok
        | FROM lineitem
        | WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 40
        | GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val zDir = layoutDir(dir, "z")
      Layout.zorderWrite(Tables(s, dir, "lineitem"), ZCols, zDir, Files)
      boxAgg(s.read.parquet(zDir))
    },

    // Same fidelity contract over the HILBERT curve (the native
    // `hilbert_d` expression): curve choice must be invisible to query
    // results — only file boxes change. Same oracle as lay_zorder by
    // construction; the two rows share a hash iff both layouts are
    // lossless.
    QueryDef("lay_hilbert")(
      """SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   ROUND(sum(l_quantity), 6) AS sum_qty,
        |   CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |   CAST(max(l_orderkey) AS BIGINT) AS max_ok
        | FROM lineitem
        | WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 40
        | GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val hDir = layoutDir(dir, "h")
      Layout.zorderWrite(Tables(s, dir, "lineitem"), ZCols, hDir, Files,
        curve = Layout.Hilbert)
      boxAgg(s.read.parquet(hDir))
    },

    // The GROWTH path: at 100 TB a layout is never rebuilt — an arriving
    // batch is curve-clustered with the layout's PERSISTED scaling
    // (_graft_zmeta) and appended. The engine builds base + appends a
    // planted batch (key-shifted order keys, same curve columns), then
    // answers the box predicate from the GROWN layout; the oracle answers
    // it from source ∪ the same planted batch — the hash match proves
    // append loses nothing and the grown layout remains a faithful copy.
    QueryDef("lay_zorder_grown")(
      """WITH grown AS (SELECT * FROM lineitem
        |   UNION ALL SELECT l_orderkey + 1000000000, l_partkey, l_suppkey,
        |     l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        |     l_returnflag, l_linestatus, l_shipdate
        |   FROM lineitem WHERE l_orderkey < 100)
        | SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   ROUND(sum(l_quantity), 6) AS sum_qty,
        |   CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |   CAST(max(l_orderkey) AS BIGINT) AS max_ok
        | FROM grown
        | WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 40
        | GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val grownDir = layoutDir(dir, "grown")
      val li = Tables(s, dir, "lineitem")
      Layout.zorderWrite(li, ZCols, grownDir, Files)
      val batch = li.where(col("l_orderkey") < 100)
        .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
      Layout.appendZOrdered(batch, grownDir, files = 2)
      boxAgg(s.read.parquet(grownDir))
    },

    // The full KEYED lifecycle through the driver's oracle gate: seed a
    // keyed layout, stream-shape append a batch partition, COMPACT (the
    // staged-rename swap, fresh scaling), then answer the box predicate
    // from the compacted base. The oracle computes the same answer from
    // source ∪ batch — a hash match proves init+append+compact lose
    // nothing and the swap leaves a queryable layout.
    QueryDef("lay_compact")(
      """WITH grown AS (SELECT * FROM lineitem
        |   UNION ALL SELECT l_orderkey + 1000000000, l_partkey, l_suppkey,
        |     l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        |     l_returnflag, l_linestatus, l_shipdate
        |   FROM lineitem WHERE l_orderkey < 100)
        | SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   ROUND(sum(l_quantity), 6) AS sum_qty,
        |   CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |   CAST(max(l_orderkey) AS BIGINT) AS max_ok
        | FROM grown
        | WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 40
        | GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val root = layoutDir(dir, "keyed")
      // fresh lifecycle every run: the init overwrites batch=0, and any
      // leftover batch partitions from a prior run are dropped first
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val li = Tables(s, dir, "lineitem")
      Layout.initKeyedLayout(li, ZCols, root, Files)
      val batch = li.where(col("l_orderkey") < 100)
        .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
      Layout.appendZOrderedKeyed(batch, root, "batch=1", files = 2)
      Layout.compactKeyed(s, root, files = Files)
      boxAgg(s.read.parquet(root).drop("batch"))
    },

    // TAKEDOWN on the DATA layout itself (r15): the derived-index purges
    // remove a doc from what points at its bytes, but the bytes live in
    // the clustered files — a PII erasure is done only when they leave.
    // Seed + append a keyed layout, purge every l_orderkey % 13 == 5 row
    // (touched batch partitions rewrite minus the ids on the layout's
    // own persisted scaling, under the two-phase marker; curve geometry
    // unchanged so min/max pruning keeps working), then answer the box
    // predicate from the purged layout. The oracle answers it from
    // (source ∪ batch) minus the purged keys — a hash match proves the
    // rows are gone and everything else is untouched.
    QueryDef("lay_purge")(
      """WITH grown AS (SELECT * FROM lineitem
        |   UNION ALL SELECT l_orderkey + 1000000000, l_partkey, l_suppkey,
        |     l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
        |     l_returnflag, l_linestatus, l_shipdate
        |   FROM lineitem WHERE l_orderkey < 100)
        | SELECT l_returnflag,
        |   CAST(count(*) AS BIGINT) AS n,
        |   ROUND(sum(l_quantity), 6) AS sum_qty,
        |   CAST(min(l_orderkey) AS BIGINT) AS min_ok,
        |   CAST(max(l_orderkey) AS BIGINT) AS max_ok
        | FROM grown
        | WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 5 AND 40
        |   AND l_orderkey % 13 <> 5
        | GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, dir) =>
      val root = layoutDir(dir, "purge")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(new org.apache.hadoop.conf.Configuration())
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val li = Tables(s, dir, "lineitem")
      Layout.initKeyedLayout(li, ZCols, root, Files)
      val batch = li.where(col("l_orderkey") < 100)
        .withColumn("l_orderkey", col("l_orderkey") + 1000000000L)
      Layout.appendZOrderedKeyed(batch, root, "batch=1", files = 2)
      val grown = s.read.parquet(root)
      Layout.purgeFromKeyedLayout(s, root, "l_orderkey",
        grown.where(col("l_orderkey") % 13 === 5).select(col("l_orderkey")),
        files = Files)
      boxAgg(s.read.parquet(root).drop("batch"))
    },

    // The pruning arithmetic itself: per-bin min/max ranges (the roll-up
    // of what parquet footers carry) evaluated against three predicate
    // shapes for both layouts. The trade the table shows is the reason
    // Z-order exists: a linear (l_partkey, l_suppkey) layout prunes the
    // LEADING column perfectly and the trailing one not at all (every
    // bin spans the full l_suppkey range), while the Z-order curve
    // prunes BOTH. HASH-ORACLED since r12: the binned writes assign
    // every row's file by pure arithmetic (top curve bits — a static
    // zone-map grid, no sampled boundaries), so DuckDB replays the
    // whole assignment — scaling, rank truncation, Morton top-bit
    // interleave, bin ranges, overlap counts — from the source table.
    // EXPLAIN.md "Round 10: Z-order layout — footer-truth pruning" holds
    // the REAL-footer truth at row-group depth.
    QueryDef("lay_zorder_prune")(
      """WITH s AS (SELECT CAST(min(l_partkey) AS DOUBLE) AS mn1, CAST(max(l_partkey) AS DOUBLE) AS mx1,
        |             CAST(min(l_suppkey) AS DOUBLE) AS mn2, CAST(max(l_suppkey) AS DOUBLE) AS mx2
        |           FROM lineitem),
        | r AS (SELECT l_partkey AS pk, l_suppkey AS sk,
        |         least(65535, greatest(0, CAST(floor((CAST(l_partkey AS DOUBLE) - mn1) / (mx1 - mn1) * 65535.0) AS BIGINT))) AS r1,
        |         least(65535, greatest(0, CAST(floor((CAST(l_suppkey AS DOUBLE) - mn2) / (mx2 - mn2) * 65535.0) AS BIGINT))) AS r2
        |       FROM lineitem CROSS JOIN s),
        | f AS (SELECT pk, sk,
        |         ((r1 >> 14) & 1) + 2 * ((r2 >> 14) & 1)
        |           + 4 * ((r1 >> 15) & 1) + 8 * ((r2 >> 15) & 1) AS fz,
        |         r1 >> 12 AS fl
        |       FROM r),
        | bins AS (SELECT 'zorder' AS layout, fz AS fid, min(pk) AS mnp, max(pk) AS mxp,
        |            min(sk) AS mns, max(sk) AS mxs FROM f GROUP BY 2
        |          UNION ALL
        |          SELECT 'linear', fl, min(pk), max(pk), min(sk), max(sk) FROM f GROUP BY 2),
        | pr(predicate, usep, uses) AS (VALUES ('both_dims', true, true),
        |     ('partkey_only', true, false), ('suppkey_only', false, true))
        | SELECT layout, predicate,
        |   CAST(sum(CASE WHEN (NOT usep OR (mnp <= 300 AND mxp >= 100))
        |                  AND (NOT uses OR (mns <= 40 AND mxs >= 5)) THEN 1 ELSE 0 END) AS BIGINT) AS files_read,
        |   CAST(count(*) AS BIGINT) AS files_total
        | FROM bins CROSS JOIN pr GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    ) { (s, dir) =>
      import s.implicits._
      val (zDir, linDir) = (layoutDir(dir, "zb"), layoutDir(dir, "linb"))
      val li = Tables(s, dir, "lineitem")
      Layout.binnedZorderWrite(li, ZCols, zDir, Files)
      Layout.binnedLinearWrite(li, ZCols, linDir, Files)
      val boxes = Seq(
        "partkey_only" -> Box.view.filterKeys(_ == "l_partkey").toMap,
        "suppkey_only" -> Box.view.filterKeys(_ == "l_suppkey").toMap,
        "both_dims" -> Box)
      val rows = Seq("zorder" -> zDir, "linear" -> linDir).flatMap {
        case (layout, d) =>
          // one scan per layout: the per-bin ranges are a handful of rows
          val ranges = Layout.binRanges(s, d, ZCols)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try boxes.map { case (pname, box) =>
            val (read, total) = Layout.filesOverlapping(ranges, box)
            (layout, pname, read, total)
          } finally { ranges.unpersist(false); () }
      }
      rows.toDF("layout", "predicate", "files_read", "files_total")
        .orderBy(col("layout"), col("predicate"))
    }
  )
}
