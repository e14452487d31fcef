package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends TestBase {

  import spark.implicits._

  test("zValue: bit-exact Morton interleave on known points") {
    // 2-D, 2 bits each: z(x, y) interleaves x bit b -> out bit 2b,
    // y bit b -> out bit 2b+1 (x is column 0 = LSB lane)
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (3L, 0L), (0L, 3L),
        (3L, 3L), (2L, 1L))
      .toDF("x", "y")
      .withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 2))
    val got = df.select("x", "y", "z").as[(Long, Long, Long)].collect()
      .map { case (x, y, z) => (x, y) -> z }.toMap
    // hand-computed Morton codes
    assert(got((0L, 0L)) == 0L)
    assert(got((1L, 0L)) == 1L)
    assert(got((0L, 1L)) == 2L)
    assert(got((1L, 1L)) == 3L)
    assert(got((3L, 0L)) == 5L)   // x=11 -> bits 0,2
    assert(got((0L, 3L)) == 10L)  // y=11 -> bits 1,3
    assert(got((3L, 3L)) == 15L)
    assert(got((2L, 1L)) == 6L)   // x=10 -> bit 2; y=01 -> bit 1
  }

  test("zValue: three-column interleave (bit b of col i -> out bit 3b+i)") {
    val df = Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (3L, 3L, 3L),
        (2L, 1L, 0L))
      .toDF("x", "y", "w")
      .withColumn("z", Layout.zValue(Seq(col("x"), col("y"), col("w")), 2))
    val got = df.select("x", "y", "w", "z").as[(Long, Long, Long, Long)]
      .collect().map { case (x, y, w, z) => (x, y, w) -> z }.toMap
    assert(got((1L, 0L, 0L)) == 1L)    // bit 0
    assert(got((0L, 1L, 0L)) == 2L)    // bit 1
    assert(got((0L, 0L, 1L)) == 4L)    // bit 2
    assert(got((3L, 3L, 3L)) == 63L)   // all six low bits
    assert(got((2L, 1L, 0L)) == 10L)   // x bit1 -> out 3; y bit0 -> out 1
  }

  test("zValue: null rank interleaves as 0, deterministically") {
    val df = Seq((0L, Some(1L), Some(1L)), (1L, None, Some(1L)),
        (2L, Some(1L), None))
      .toDF("i", "x", "y")
      .withColumn("z", Layout.zValue(Seq(col("x"), col("y")), 2))
    val z = df.orderBy("i").select("z").as[Long].collect()
    assert(z sameElements Array(3L, 2L, 1L))
  }

  test("morton_d: native interleave == the zValue Column formulation, nulls included") {
    graft.functions.GraftFunctions.ensure(spark)
    // random 16-bit points plus null rows: the two formulations must be
    // bit-identical everywhere (the write path uses the native call)
    val pts = spark.range(2000).select(
        when(col("id") % 17 =!= 0,
          expr("cast(conv(substring(md5(cast(id as string)), 1, 4), 16, 10) as bigint)"))
          .as("x"),
        when(col("id") % 13 =!= 0,
          expr("cast(conv(substring(md5(cast(id + 7 as string)), 1, 4), 16, 10) as bigint)"))
          .as("y"))
    // RAW nullable inputs: morton_d's own null branch (treat as 0) must
    // match zValue's coalesce — no pre-coalescing that would mask it
    val both = pts
      .withColumn("native", expr("morton_d(x, y, 16)"))
      .withColumn("tree", Layout.zValue(Seq(col("x"), col("y")), 16))
    assert(both.where(col("native") =!= col("tree")).isEmpty,
      "native morton_d must equal the zValue tree bit-for-bit")
    // three dims too
    val three = spark.range(500).select(
        (col("id") % 7).as("a"), (col("id") % 11).as("b"), (col("id") % 5).as("c"))
      .withColumn("native", expr("morton_d(a, b, c, 4)"))
      .withColumn("tree", Layout.zValue(Seq(col("a"), col("b"), col("c")), 4))
    assert(three.where(col("native") =!= col("tree")).isEmpty)
  }

  test("hilbert_d: known order-1/order-2 indices; full-grid bijection") {
    graft.functions.GraftFunctions.ensure(spark)
    // order 1 (2x2): the U shape (0,0)->(0,1)->(1,1)->(1,0)
    val o1 = Seq((0L, 0L), (0L, 1L), (1L, 1L), (1L, 0L)).zipWithIndex
      .map { case ((x, y), i) => (x, y, i.toLong) }.toDF("x", "y", "want")
      .withColumn("d", expr("hilbert_d(x, y, 1)"))
    assert(o1.where(col("d") =!= col("want")).isEmpty)
    // any order: d is a BIJECTION onto [0, 4^bits)
    val grid = spark.range(16).select((col("id") / 4).cast("long").as("x"),
        (col("id") % 4).cast("long").as("y"))
      .withColumn("d", expr("hilbert_d(x, y, 2)"))
    val ds = grid.select("d").as[Long].collect().sorted
    assert(ds.toSeq == (0L until 16L).toSeq, s"not a bijection: ${ds.toSeq}")
  }

  test("hilbert_d: consecutive curve cells are ALWAYS grid neighbors (Morton's are not)") {
    graft.functions.GraftFunctions.ensure(spark)
    // the locality property the curve is chosen for, checked by full
    // enumeration of the 32x32 grid
    val pts = spark.range(1024)
      .select((col("id") / 32).cast("long").as("x"), (col("id") % 32).cast("long").as("y"))
    val byHilbert = pts.withColumn("d", expr("hilbert_d(x, y, 5)"))
      .orderBy("d").select("x", "y").as[(Long, Long)].collect()
    val jumpsH = byHilbert.sliding(2).count { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumpsH == 0, s"hilbert must have zero non-adjacent steps, got $jumpsH")
    // Morton on the same grid jumps (diagonal discontinuities) — the
    // contrast that motivates offering both curves
    val byMorton = pts
      .withColumn("d", Layout.zValue(Seq(col("x"), col("y")), 5))
      .orderBy("d").select("x", "y").as[(Long, Long)].collect()
    val jumpsZ = byMorton.sliding(2).count { case Array((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2) != 1
    }
    assert(jumpsZ > 0, "morton should jump somewhere on a 32x32 grid")
  }

  test("hilbert layout: lossless, prunes both dims, growth reads the persisted curve") {
    val dir = java.nio.file.Files.createTempDirectory("lay-h").toString + "/h"
    val zc = Seq("l_partkey", "l_suppkey")
    val li = Tables(spark, sf("sf0.01"), "lineitem")
    Layout.zorderWrite(li, zc, dir, 16, curve = Layout.Hilbert)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    val ranges = Layout.fileRanges(spark, dir, zc)
    val (supp, tot) = Layout.filesOverlapping(ranges, Map("l_suppkey" -> (5.0, 40.0)))
    assert(tot == 16 && supp <= 8,
      s"hilbert layout should prune the trailing dim, read $supp/$tot")
    val (box, _) = Layout.filesOverlapping(ranges,
      Map("l_partkey" -> (100.0, 300.0), "l_suppkey" -> (5.0, 40.0)))
    assert(box <= 4, s"hilbert should confine the 2-D box, read $box")
    // append ranks on the persisted hilbert curve (meta carries the curve)
    Layout.appendZOrdered(li.limit(50), dir, files = 1)
    assert(spark.read.parquet(dir).count() == li.count() + 50)
  }

  test("zorderWrite: lossless round trip (same multiset of rows)") {
    val dir = java.nio.file.Files.createTempDirectory("lay-rt").toString
    val li = Tables(spark, sf(), "lineitem")
    Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), s"$dir/z", 8)
    val back = spark.read.parquet(s"$dir/z")
    assert(back.columns.sorted sameElements li.columns.sorted,
      "layout must not add or drop columns")
    val a = li.groupBy(li.columns.map(col): _*).count()
    val b = back.groupBy(li.columns.map(col): _*).count()
    assert(a.except(b).isEmpty && b.except(a).isEmpty,
      "re-clustered layout must hold exactly the source rows")
  }

  test("zorder prunes BOTH dimensions; linear sort only its leading one") {
    val dir = java.nio.file.Files.createTempDirectory("lay-pr").toString
    val zc = Seq("l_partkey", "l_suppkey")
    val li = Tables(spark, sf("sf0.01"), "lineitem")
    Layout.zorderWrite(li, zc, s"$dir/z", 16)
    LayoutSpec.linearWrite(li, zc, s"$dir/lin", 16)
    val zr = Layout.fileRanges(spark, s"$dir/z", zc)
    val lr = Layout.fileRanges(spark, s"$dir/lin", zc)
    // trailing-column predicate: linear layout cannot prune at all (every
    // file spans the full l_suppkey range); the Z-curve reads a fraction
    val supp = Map("l_suppkey" -> (5.0, 40.0))
    val (zSupp, zTot) = Layout.filesOverlapping(zr, supp)
    val (lSupp, lTot) = Layout.filesOverlapping(lr, supp)
    assert(zTot == 16 && lTot == 16)
    assert(lSupp == 16, s"linear layout should be unable to prune suppkey, read $lSupp")
    assert(zSupp <= 8, s"zorder should skip at least half the files, read $zSupp")
    // two-dimensional box: zorder must prune it too (not degrade to scan)
    val box = Map("l_partkey" -> (100.0, 300.0), "l_suppkey" -> (5.0, 40.0))
    val (zBox, _) = Layout.filesOverlapping(zr, box)
    assert(zBox <= 4, s"zorder should confine a ~4% box to few files, read $zBox")
    // leading-column predicate: zorder cedes some pruning vs linear but
    // must still skip most files (the documented trade)
    val part = Map("l_partkey" -> (100.0, 300.0))
    val (zPart, _) = Layout.filesOverlapping(zr, part)
    assert(zPart <= 8, s"zorder should still prune the leading dim, read $zPart")
  }

  test("appendZOrdered: grown layout = base ∪ batch, same curve, still prunes") {
    val dir = java.nio.file.Files.createTempDirectory("lay-gr").toString + "/z"
    val zc = Seq("l_partkey", "l_suppkey")
    val li = Tables(spark, sf("sf0.01"), "lineitem")
    val base = li.where(col("l_orderkey") % 2 === 0)
    val batch = li.where(col("l_orderkey") % 2 === 1)
      .withColumn("l_orderkey", col("l_orderkey") + 1000000L)
    Layout.zorderWrite(base, zc, dir, 16)
    val metaBefore = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_zmeta")).toSeq
    Layout.appendZOrdered(batch, dir, files = 4)
    // scaling is frozen at build time — append must not touch it
    val metaAfter = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_zmeta")).toSeq
    assert(metaBefore == metaAfter)
    // lossless growth
    val back = spark.read.parquet(dir)
    val want = base.unionAll(batch)
    assert(back.count() == want.count())
    assert(want.groupBy(want.columns.map(col): _*).count()
      .except(back.groupBy(want.columns.map(col): _*).count()).isEmpty)
    // the grown layout still prunes a trailing-column predicate (batch
    // files rank on the SAME persisted curve, so they are boxes too)
    val (read, total) = Layout.filesOverlapping(
      Layout.fileRanges(spark, dir, zc), Map("l_suppkey" -> (5.0, 20.0)))
    assert(total == 20, s"expected 16 base + 4 batch files, got $total")
    assert(read < total / 2, s"grown layout must still prune: read $read/$total")
    // out-of-range batch values clamp to edge cells but stay readable
    val wild = li.limit(10)
      .withColumn("l_partkey", col("l_partkey") + 1000000L)
    Layout.appendZOrdered(wild, dir, files = 1)
    assert(spark.read.parquet(dir).count() == want.count() + 10)
  }

  test("compactKeyed: folds batch partitions into a fresh base, absorbs drift") {
    val zc = Seq("l_partkey", "l_suppkey")
    val root = java.nio.file.Files.createTempDirectory("lay-cp").toString + "/z"
    val li = Tables(spark, sf(), "lineitem")
    val base = li.where(col("l_orderkey") % 2 === 0)
    // drifted batch: partkeys far beyond the seed scaling clamp to the
    // edge cell until compaction re-ranks them
    val drift = li.where(col("l_orderkey") % 2 === 1)
      .withColumn("l_partkey", col("l_partkey") + 100000L)
    Layout.initKeyedLayout(base, zc, root, files = 8)
    Layout.appendZOrderedKeyed(drift, root, "batch=1", files = 4)
    val before = spark.read.parquet(root).drop("batch")
    val n = before.count()
    Layout.compactKeyed(spark, root, files = 12)
    val after = spark.read.parquet(root)
    // lossless, and only the compacted base remains
    assert(after.count() == n)
    assert(after.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    // fresh scaling covers the drifted range: a predicate INSIDE the
    // drifted region prunes (pre-compaction it all sat in one edge cell)
    val (read, total) = Layout.filesOverlapping(
      Layout.fileRanges(spark, root, zc),
      Map("l_partkey" -> (100000.0, 100200.0)))
    assert(total == 12, s"expected 12 compacted files, got $total")
    assert(read < total, s"re-ranked drift region must prune: $read/$total")
    // the meta now spans the drifted max, so future appends rank on it
    Layout.appendZOrderedKeyed(drift.limit(5), root, "batch=1", files = 1)
    assert(spark.read.parquet(root).count() == n + 5)
  }

  test("repairKeyed: every compaction crash window recovers to the exact rows") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("lay-cr").toString + "/z"
    val fs = new Path(root).getFileSystem(conf)
    val zc = Seq("l_partkey", "l_suppkey")
    val li = Tables(spark, sf(), "lineitem")
    val base = li.where(col("l_orderkey") % 2 === 0)
    val batch = li.where(col("l_orderkey") % 2 === 1)
    Layout.initKeyedLayout(base, zc, root, files = 8)
    Layout.appendZOrderedKeyed(batch, root, "batch=1", files = 2)
    val want = li.count()

    // window 1: crash BEFORE the commit marker — half-staged _compacting
    // is discarded, the live layout untouched
    fs.mkdirs(new Path(s"$root/_compacting"))
    Layout.repairKeyed(root)
    assert(!fs.exists(new Path(s"$root/_compacting")))
    assert(spark.read.parquet(root).count() == want)

    // window 2: crash AFTER commit, BEFORE install — complete staged base
    // + marker, old base and stale partition still in place. Manufacture:
    // stage a copy of the real compacted result.
    Layout.compactKeyed(spark, root, files = 8) // healthy compact first
    Layout.appendZOrderedKeyed(batch.limit(100), root, "batch=2", files = 1)
    // stage = current base ∪ batch=2 folded (build it via a scratch keyed
    // layout so it carries a complete _graft_zmeta)
    val scratch = java.nio.file.Files.createTempDirectory("lay-cr2").toString + "/s"
    Layout.initKeyedLayout(spark.read.parquet(root).drop("batch"), zc, scratch, 8)
    FileUtil.copy(fs, new Path(s"$scratch/batch=0"),
      fs, new Path(s"$root/_compacting"), false, conf)
    fs.create(new Path(s"$root/_graft_subsumed"), true) match {
      case out => try out.write("batch=2".getBytes("UTF-8")) finally out.close()
    }
    Layout.repairKeyed(root)
    assert(!fs.exists(new Path(s"$root/_graft_subsumed")))
    assert(!fs.exists(new Path(s"$root/batch=2")), "listed partition must drop")
    assert(spark.read.parquet(root).count() == want + 100)

    // window 3: crash AFTER install, BEFORE drops — duplicates visible
    // through the stale listed partition; repair drops exactly it, and a
    // partition appended after the commit (not listed) SURVIVES
    Layout.appendZOrderedKeyed(batch.limit(40), root, "batch=3", files = 1)
    FileUtil.copy(fs, new Path(s"$root/batch=3"),
      fs, new Path(s"$root/batch=9"), false, conf) // fake stale duplicate
    fs.create(new Path(s"$root/_graft_subsumed"), true) match {
      case out => try out.write("batch=9".getBytes("UTF-8")) finally out.close()
    }
    Layout.appendZOrderedKeyed(batch.limit(7), root, "batch=4", files = 1) // post-commit append
    Layout.repairKeyed(root)
    assert(!fs.exists(new Path(s"$root/batch=9")))
    assert(fs.exists(new Path(s"$root/batch=4")), "post-commit append must survive")
    assert(spark.read.parquet(root).count() == want + 100 + 40 + 7)

    // idempotent no-op on a healthy layout
    Layout.repairKeyed(root)
    assert(spark.read.parquet(root).count() == want + 100 + 40 + 7)
  }

  test("appendZOrderedKeyed: never discards an uncommitted compaction stage") {
    import org.apache.hadoop.fs.Path
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("lay-race").toString + "/z"
    val fs = new Path(root).getFileSystem(conf)
    val li = Tables(spark, sf(), "lineitem")
    Layout.initKeyedLayout(li.limit(200), Seq("l_partkey", "l_suppkey"), root, 2)
    // an uncommitted _compacting dir seen from the APPEND path may be a
    // live compactor mid-build — the append must leave it alone (the
    // r10-advice race: discard here + commit there = the marker drops
    // partitions with no installed base)
    fs.mkdirs(new Path(s"$root/_compacting"))
    Layout.appendZOrderedKeyed(li.limit(5), root, "batch=1", files = 1)
    assert(fs.exists(new Path(s"$root/_compacting")),
      "append-path self-heal must not discard a possibly-live stage")
    assert(spark.read.parquet(root).count() == 205)
    // the compaction OWNER's repair still discards the (now known-dead)
    // stage — and a subsequent compaction verifies its stage right before
    // the commit marker, so the discard can no longer be silent
    Layout.repairKeyed(root)
    assert(!fs.exists(new Path(s"$root/_compacting")))
    Layout.compactKeyed(spark, root, files = 2)
    assert(spark.read.parquet(root).count() == 205)
  }

  test("healCommitted restores a base stranded by a lost roll-forward race") {
    import org.apache.hadoop.fs.Path
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("lay-strand").toString + "/z"
    val fs = new Path(root).getFileSystem(conf)
    val li = Tables(spark, sf(), "lineitem")
    Layout.initKeyedLayout(li.limit(100), Seq("l_partkey", "l_suppkey"), root, 2)
    // the one state only a lost roll-forward race can produce: base data
    // parked in _old_base, no batch=0, no stage, no marker
    assert(fs.rename(new Path(s"$root/batch=0"), new Path(s"$root/_old_base")))
    Layout.healCommitted(root, conf)
    assert(fs.exists(new Path(s"$root/batch=0")) &&
      !fs.exists(new Path(s"$root/_old_base")))
    assert(spark.read.parquet(root).count() == 100)
    // the append path self-heals the same state (it calls healCommitted)
    assert(fs.rename(new Path(s"$root/batch=0"), new Path(s"$root/_old_base")))
    Layout.appendZOrderedKeyed(li.limit(5), root, "batch=1", files = 1)
    assert(spark.read.parquet(root).count() == 105)
  }

  test("rollForward never deletes another attempt's park dir; owner sweeps it") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("lay-park").toString + "/z"
    val fs = new Path(root).getFileSystem(conf)
    val li = Tables(spark, sf(), "lineitem")
    Layout.initKeyedLayout(li.limit(100), Seq("l_partkey", "l_suppkey"), root, 2)
    // a committed interrupted compaction (staged base + marker) PLUS a
    // foreign in-flight park dir: the r11-advice lost-base interleaving
    // had the roll-forward's trailing delete destroy a racing attempt's
    // parked base because the park name was shared. Per-attempt names
    // mean this roll-forward must leave the foreign dir alone.
    val scratch = java.nio.file.Files.createTempDirectory("lay-park2").toString + "/s"
    Layout.initKeyedLayout(li.limit(100), Seq("l_partkey", "l_suppkey"), scratch, 2)
    FileUtil.copy(fs, new Path(s"$scratch/batch=0"),
      fs, new Path(s"$root/_compacting"), false, conf)
    fs.create(new Path(s"$root/_graft_subsumed"), true) match {
      case out => try out.write("".getBytes("UTF-8")) finally out.close()
    }
    val foreign = new Path(s"$root/_old_base_00000000000000000001_foreign")
    fs.mkdirs(foreign)
    Layout.healCommitted(root, conf)
    assert(fs.exists(foreign),
      "a concurrent attempt's park dir must survive another roll-forward")
    assert(!fs.exists(new Path(s"$root/_graft_subsumed")) &&
      !fs.exists(new Path(s"$root/_compacting")))
    assert(spark.read.parquet(root).count() == 100)
    // the OWNER's repair sweeps leaked park dirs once the layout is healthy
    Layout.repairKeyed(root)
    assert(!fs.exists(foreign), "repairKeyed must sweep leaked park dirs")
    assert(spark.read.parquet(root).count() == 100)
  }

  test("stranded-base restore picks the NEWEST park dir, owner sweeps stale ones") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val conf = new org.apache.hadoop.conf.Configuration()
    val root = java.nio.file.Files.createTempDirectory("lay-newest").toString + "/z"
    val fs = new Path(root).getFileSystem(conf)
    val li = Tables(spark, sf(), "lineitem")
    // a STALE park (an earlier epoch's 20-row base, leaked by a crash) …
    val old = java.nio.file.Files.createTempDirectory("lay-newest2").toString + "/s"
    Layout.initKeyedLayout(li.limit(20), Seq("l_partkey", "l_suppkey"), old, 1)
    Layout.initKeyedLayout(li.limit(100), Seq("l_partkey", "l_suppkey"), root, 2)
    val stale = new Path(s"$root/_old_base_00000000000000000001_stale")
    FileUtil.copy(fs, new Path(s"$old/batch=0"), fs, stale, false, conf)
    // … and the LIVE base parked by a crashed racing loser (newer name)
    assert(fs.rename(new Path(s"$root/batch=0"),
      new Path(s"$root/_old_base_99999999999999999998_live")))
    Layout.healCommitted(root, conf)
    assert(spark.read.parquet(root).count() == 100,
      "restore must pick the newest park (the live base), not the stale one")
    assert(fs.exists(stale), "healCommitted must not sweep (non-owner)")
    Layout.repairKeyed(root)
    assert(!fs.exists(stale), "owner repair sweeps the stale park")
    assert(spark.read.parquet(root).count() == 100)
  }

  test("binned writes: lossless, deterministic fid grid, zorder prunes both dims") {
    val li = Tables(spark, sf("sf0.001"), "lineitem")
    val zDir = java.nio.file.Files.createTempDirectory("lay-binz").toString
    val lDir = java.nio.file.Files.createTempDirectory("lay-binl").toString
    Layout.binnedZorderWrite(li, Seq("l_partkey", "l_suppkey"), zDir, 16)
    Layout.binnedLinearWrite(li, Seq("l_partkey", "l_suppkey"), lDir, 16)
    // lossless: same multiset of rows back (fid is an additive partition col)
    val back = spark.read.parquet(zDir).drop("fid")
    assert(back.count() == li.count())
    assert(back.exceptAll(li.select(back.columns.map(col): _*)).isEmpty)
    // deterministic: a second write yields the identical fid assignment
    val zDir2 = java.nio.file.Files.createTempDirectory("lay-binz2").toString
    Layout.binnedZorderWrite(li, Seq("l_partkey", "l_suppkey"), zDir2, 16)
    val a = spark.read.parquet(zDir).groupBy("fid").count()
    val b = spark.read.parquet(zDir2).groupBy("fid").count()
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // the zone-map trade: zorder bins bound BOTH dims, linear only leading
    val box = Map("l_suppkey" -> (5.0, 40.0))
    val (zRead, zTot) = Layout.filesOverlapping(
      Layout.binRanges(spark, zDir, Seq("l_partkey", "l_suppkey")), box)
    val (lRead, lTot) = Layout.filesOverlapping(
      Layout.binRanges(spark, lDir, Seq("l_partkey", "l_suppkey")), box)
    assert(lRead == lTot, "linear layout cannot prune its trailing column")
    assert(zRead < zTot, s"zorder must prune the trailing column: $zRead/$zTot")
    // meta tags distinguish the layouts: the linear baseline is NOT a
    // curve, and a curve-path consumer handed it must fail loudly
    // rather than reconstruct bins by interleaving (ADVICE r12)
    def metaCurve(dir: String) = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(dir, "_graft_zmeta")).get(0).split(" ").last
    assert(metaCurve(zDir) == Layout.Zorder)
    assert(metaCurve(lDir) == Layout.LinearBin)
    val e = intercept[Exception] {
      Layout.appendZOrdered(li.limit(10), lDir, files = 1)
    }
    assert(e.getMessage.contains(Layout.LinearBin),
      s"curve consumers must reject the linear-bin tag: ${e.getMessage}")
  }

  test("filesOverlapping: a file with null range stats SURVIVES pruning") {
    // an all-null column chunk writes no min/max; a stats-pruning reader
    // must read such a file (the footer-truth row-group count in EXPLAIN.md
    // "Round 10: Z-order layout" counts it the same)
    val ranges = Seq(
        ("f1", Some(1.0), Some(2.0)),   // disjoint from the box -> pruned
        ("f2", Some(12.0), Some(15.0)), // overlaps -> read
        ("f3", Option.empty[Double], Option.empty[Double])) // no stats -> read
      .toDF("file", "mn_a", "mx_a")
    val (supp, tot) = Layout.filesOverlapping(ranges, Map("a" -> (10.0, 20.0)))
    assert(tot == 3 && supp == 2,
      s"null-stat file must survive, ranged disjoint file must prune: $supp/$tot")
  }

  test("z-order on a DATE column: days-since-epoch key, layout prunes the date dim") {
    val dir = java.nio.file.Files.createTempDirectory("lay-dt").toString + "/z"
    val zc = Seq("l_partkey", "d")
    val li = Tables(spark, sf("sf0.01"), "lineitem")
      .withColumn("d", to_date(col("l_shipdate")))
    Layout.zorderWrite(li, zc, dir, 16)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    // withZValue on the date dim alone is monotone in the date
    val z = LayoutSpec.withZValue(li.select("d").distinct(), Seq("d"), 8)
      .orderBy("d").select("_z").as[Long].collect()
    assert(z.toSeq == z.sorted.toSeq, "date rank must be monotone in the date")
    // a one-quarter date box prunes most files (dates span ~7 years);
    // compare in days-since-epoch, the same key the curve ranks on
    val mn = li.agg(min(unix_date(col("d")))).head().getInt(0).toDouble
    val ranges = Layout.fileRanges(spark, dir, Seq("d"))
      .select(col("file"),
        unix_date(col("mn_d")).cast("double").as("mn_dk"),
        unix_date(col("mx_d")).cast("double").as("mx_dk"))
    val (read, total) = Layout.filesOverlapping(ranges, Map("dk" -> (mn, mn + 90.0)))
    assert(total == 16 && read <= 8,
      s"date-dim quarter box should skip at least half the files: $read/$total")
  }

  test("purgeFromKeyedLayout: rows gone, meta survives, emptied partitions drop, pruning intact") {
    val root = java.nio.file.Files.createTempDirectory("graft-lay-purge").toString
    // base: 400 rows over two curve dims; batch 1: 40 rows in a disjoint
    // id range; batch 2: rows that the purge will EMPTY entirely
    val base = (0L until 400L).map(i => (i, i % 20, (i / 20) % 20, i % 7))
      .toDF("id", "x", "y", "v")
    val b1 = (1000L until 1040L).map(i => (i, i % 20, (i / 20) % 20, i % 7))
      .toDF("id", "x", "y", "v")
    val b2 = (2000L until 2010L).map(i => (i, i % 20, (i / 20) % 20, i % 7))
      .toDF("id", "x", "y", "v")
    Layout.initKeyedLayout(base, Seq("x", "y"), root, files = 4)
    Layout.appendZOrderedKeyed(b1, root, "batch=1", files = 2)
    Layout.appendZOrderedKeyed(b2, root, "batch=2", files = 1)
    // purge: some base rows, one batch-1 row, ALL of batch 2
    val purged = (0L until 400L by 13L) ++ Seq(1003L) ++ (2000L until 2010L)
    Layout.purgeFromKeyedLayout(spark, root, "id",
      purged.toDF("id"), files = 4)
    val got = spark.read.parquet(root).select("id").as[Long].collect().toSet
    val want = ((0L until 400L) ++ (1000L until 1040L) ++ (2000L until 2010L))
      .toSet -- purged
    assert(got == want, s"purged layout must hold exactly the survivors")
    // batch=2 emptied -> dropped; batch=0 survives with its meta intact
    assert(!new java.io.File(s"$root/batch=2").exists())
    assert(new java.io.File(s"$root/batch=0/_graft_zmeta").exists(),
      "the meta-bearing base must survive a purge")
    // the layout still appends on the surviving meta (geometry unchanged)
    Layout.appendZOrderedKeyed(
      (3000L until 3010L).map(i => (i, i % 20, (i / 20) % 20, i % 7))
        .toDF("id", "x", "y", "v"), root, "batch=3", files = 1)
    assert(spark.read.parquet(root).count() == want.size + 10L)
    // file min/max pruning still answers box predicates correctly
    val boxed = spark.read.parquet(root)
      .where(col("x").between(2, 5) && col("y").between(2, 5))
      .select("id").as[Long].collect().toSet
    val wantBoxed = (want ++ (3000L until 3010L)).filter { i =>
      val x = i % 20; val y = (i / 20) % 20
      x >= 2 && x <= 5 && y >= 2 && y <= 5
    }
    assert(boxed == wantBoxed)
  }

  test("withZValue: degenerate and all-null dimensions rank constant 0") {
    val df = Seq((1L, 7L), (2L, 7L), (3L, 7L)).toDF("a", "b")
    val z = LayoutSpec.withZValue(df, Seq("a", "b"), 4)
    // b is constant -> contributes 0 bits; z is monotone in a alone
    val got = z.orderBy("a").select("_z").as[Long].collect()
    assert(got.toSeq == got.sorted.toSeq && got.distinct.length == 3)
    val nulls = Seq((Some(1L), Option.empty[Long]), (Some(2L), None))
      .toDF("a", "b")
    val zn = LayoutSpec.withZValue(nulls, Seq("a", "b"), 4)
    assert(zn.select("_z").as[Long].collect().forall(_ >= 0L))
  }
}

/** Spec-side layout references: the Z-value column alone and the linear
  * baseline the curve layouts are measured against. */
object LayoutSpec {
  import org.apache.spark.sql.DataFrame

  /** `df` plus a `_z` Z-value column over `zcols` (ints, floats and
    * timestamps cast to double; DATE columns are converted to
    * days-since-epoch internally; hash strings to a numeric key first),
    * ranked with the scaling `Layout.zorderWrite` persists. */
  def withZValue(df: DataFrame, zcols: Seq[String], bits: Int = 16): DataFrame = {
    val ranks = Layout.computeScaling(df, zcols)
      .map { case (c, mn, mx) => Layout.scaledRank(Layout.numKey(df, c), mn, mx, bits) }
    df.withColumn("_z", Layout.zValue(ranks, bits))
  }

  /** Baseline for comparison: the same table linearly sorted by
    * `sortCols` into `files` files (perfect pruning on the leading
    * column, none on the rest). */
  def linearWrite(df: DataFrame, sortCols: Seq[String], outDir: String,
      files: Int): Unit =
    df.repartitionByRange(files, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode("overwrite").parquet(outDir)
}
