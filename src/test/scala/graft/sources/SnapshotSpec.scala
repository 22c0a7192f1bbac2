package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Structural gates for [[SnapshotTable]] — the properties q363's
  * relational oracle cannot see: copy-on-write FILE REUSE (an upsert
  * rewrites only the buckets that hold matched keys), historical-
  * version immutability under later commits, and exact upsert
  * semantics per key.
  */
class SnapshotSpec extends SparkSpec {

  import spark.implicits._

  private def freshTable() = {
    val t = graft.Scratch.dir("snapspec_")
    val df = (0L until 64L)
      .map(i => (i, s"text number $i", i * 10))
      .toDF("id", "text", "score")
    SnapshotTable.init(t, df, "id")
    (t, df)
  }

  test("readAsOf(0) round-trips init exactly") {
    val (t, df) = freshTable()
    try {
      val back = SnapshotTable.readAsOf(spark, t, 0)
      assert(back.exceptAll(df).count() == 0 &&
        df.exceptAll(back).count() == 0)
    } finally graft.Scratch.deleteTree(t)
  }

  test("merge rewrites ONLY the buckets holding matched keys — " +
    "untouched bucket files are reused by reference") {
    val (t, _) = freshTable()
    try {
      // keys 0 and 8 both live in bucket 0 (mod 8); key 3 in bucket 3
      val upd = Seq((0L, "updated zero", 999L), (3L, "updated three", 999L))
        .toDF("id", "text", "score")
      val v1 = SnapshotTable.merge(spark, t, upd, "id")
      assert(v1 == 1)
      val m = SnapshotTable.manifest(spark, t)
      val removedAt1 = m.filter(col("version") === 1 &&
        col("action") === "remove").select("path")
        .collect().map(_.getString(0)).toSet
      val addedAt1 = m.filter(col("version") === 1 &&
        col("action") === "add").select("path")
        .collect().map(_.getString(0)).toSet
      assert(removedAt1.size == 2 && addedAt1.size == 2,
        s"expected exactly buckets 0 and 3 rewritten: " +
          s"removed=$removedAt1 added=$addedAt1")
      assert(removedAt1.forall(p =>
        p.contains("v0/__b=0") || p.contains("v0/__b=3")))
      assert(addedAt1.forall(p =>
        p.contains("v1/__b=0") || p.contains("v1/__b=3")))
      // the other 6 v0 bucket dirs remain live at v1 — reuse, not copy
      val liveV1 = SnapshotTable.readAsOf(spark, t, 1)
        .inputFiles.map(_.replace("file:", "")).toSet
      assert(liveV1.exists(_.contains("v0/__b=1")),
        "untouched bucket 1 was not reused by reference")
    } finally graft.Scratch.deleteTree(t)
  }

  test("insert-only merge into buckets with no live files commits " +
    "instead of crashing (ADVICE r13)") {
    // init leaves bucket 5 EMPTY (no key ≡ 5 mod 8), so an insert-only
    // batch targeting only bucket 5 has zero old files to read — the
    // unguarded read.parquet(Nil) threw instead of committing.
    val t = graft.Scratch.dir("snapspec_empty_")
    try {
      val df = (0L until 64L).filter(_ % 8 != 5)
        .map(i => (i, s"text $i", i)).toDF("id", "text", "score")
      SnapshotTable.init(t, df, "id")
      val ins = Seq((5L, "five", 1L), (13L, "thirteen", 2L))
        .toDF("id", "text", "score")
      val v1 = SnapshotTable.merge(spark, t, ins, "id")
      assert(v1 == 1)
      val back = SnapshotTable.readAsOf(spark, t, 1)
      assert(back.count() == df.count() + 2)
      assert(back.filter(col("id") === 5).count() == 1)
      // and nothing was removed: there was no old bucket-5 file
      assert(SnapshotTable.manifest(spark, t)
        .filter(col("version") === 1 && col("action") === "remove")
        .count() == 0)
    } finally graft.Scratch.deleteTree(t)
  }

  test("changesBetween ≡ snapshot diff: the change feed replays one " +
    "version onto the other exactly, and reads only touched buckets") {
    val (t, _) = freshTable()
    try {
      SnapshotTable.merge(spark, t, Seq(
        (0L, "updated zero", 999L),     // update in bucket 0
        (100L, "new hundred", 1L),      // insert into bucket 4
        (7L, s"text number 7", 70L)     // COW-copied NO-OP (same payload)
      ).toDF("id", "text", "score"), "id")
      SnapshotTable.merge(spark, t,
        Seq((0L, "zero again", 1000L)).toDF("id", "text", "score"), "id")

      val ch01 = SnapshotTable.changesBetween(spark, t, 0, 1, "id")
      val byType = ch01.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // key 7's payload is identical → emits NOTHING despite its
      // bucket being rewritten; key 0 → pre+post pair; key 100 → insert
      assert(byType == Map("insert" -> 1L, "update_preimage" -> 1L,
        "update_postimage" -> 1L), s"got $byType")
      assert(ch01.filter(col("_change_type") === "insert")
        .head().getLong(0) == 100L)
      assert(ch01.filter(col("_change_type") === "update_postimage")
        .select("text").head().getString(0) == "updated zero")

      // the ≡ gate: v0 minus deletes/preimages plus inserts/postimages
      // must equal readAsOf(v)'s snapshot EXACTLY — for both the
      // single-step and the compound (0→2) feed
      for (to <- Seq(1, 2)) {
        val ch = SnapshotTable.changesBetween(spark, t, 0, to, "id")
        val v0 = SnapshotTable.readAsOf(spark, t, 0)
        val drop = ch.filter(col("_change_type").isin("delete", "update_preimage"))
          .drop("_change_type")
        val add = ch.filter(col("_change_type").isin("insert", "update_postimage"))
          .drop("_change_type")
        val replayed = v0.exceptAll(drop).unionByName(add)
        val want = SnapshotTable.readAsOf(spark, t, to)
        assert(replayed.exceptAll(want).count() == 0 &&
          want.exceptAll(replayed).count() == 0,
          s"replay 0→$to does not reproduce the snapshot")
      }

      // scan discipline: the 0→1 feed reads only the rewritten/new
      // bucket dirs (buckets 0, 4, 7 — 7 was rewritten by the no-op
      // upsert), never the 5 untouched buckets
      val touched = Set("__b=0", "__b=4", "__b=7")
      val files = ch01.inputFiles.map(_.replace("file:", ""))
      assert(files.nonEmpty)
      assert(files.forall(p => touched.exists(p.contains)),
        s"change feed scanned untouched buckets: ${files.filterNot(p =>
          touched.exists(p.contains)).take(3).toSeq}")

      // empty window → empty feed with the schema intact
      val none = SnapshotTable.changesBetween(spark, t, 1, 1, "id")
      assert(none.count() == 0)
      assert(none.columns.toSeq ==
        Seq("id", "text", "score", "_change_type"))
    } finally graft.Scratch.deleteTree(t)
  }

  test("optimistic concurrency: a lost race over DISJOINT buckets " +
    "retries and both commits land; an OVERLAPPING race throws") {
    // Deterministic interleave via the onBeforeCommit seam: writer A
    // prepares its data, then writer B commits first. Disjoint case —
    // A targets bucket 0 (key 0), B bucket 3 (key 3): A loses v1,
    // detects no bucket overlap, recomputes at the new base, commits
    // v2; the final state carries BOTH upserts and every version is
    // readable. Overlapping case — both target bucket 0: the loser's
    // replacement rows were computed on stale data, so merge throws
    // ConcurrentModificationException instead of silently dropping
    // the winner's write (lost-update anomaly).
    val (t, _) = freshTable()
    try {
      var fired = false
      SnapshotTable.onBeforeCommit = () => if (!fired) {
        fired = true
        SnapshotTable.merge(spark, t,
          Seq((3L, "B wins three", 333L)).toDF("id", "text", "score"), "id")
      }
      val vA = try SnapshotTable.merge(spark, t,
        Seq((0L, "A zero", 100L)).toDF("id", "text", "score"), "id")
      finally SnapshotTable.onBeforeCommit = () => ()
      assert(vA == 2, s"loser should retry and commit v2, got v$vA")
      val v2 = SnapshotTable.readAsOf(spark, t, 2)
      assert(v2.filter(col("id") === 0).select("text").head().getString(0)
        == "A zero")
      assert(v2.filter(col("id") === 3).select("text").head().getString(0)
        == "B wins three")
      assert(v2.count() == 64)
      // v1 = B's state alone, still readable
      val v1 = SnapshotTable.readAsOf(spark, t, 1)
      assert(v1.filter(col("id") === 3).select("text").head().getString(0)
        == "B wins three")
      assert(v1.filter(col("id") === 0).select("text").head().getString(0)
        == "text number 0")

      // overlapping race: both writers touch bucket 0
      fired = false
      SnapshotTable.onBeforeCommit = () => if (!fired) {
        fired = true
        SnapshotTable.merge(spark, t,
          Seq((8L, "B wins eight", 888L)).toDF("id", "text", "score"), "id")
      }
      try {
        intercept[java.util.ConcurrentModificationException] {
          SnapshotTable.merge(spark, t,
            Seq((0L, "A again", 1L)).toDF("id", "text", "score"), "id")
        }
      } finally SnapshotTable.onBeforeCommit = () => ()
      // the winner's commit is intact; the loser changed nothing
      val v3 = SnapshotTable.readAsOf(spark, t,
        SnapshotTable.currentVersion(t))
      assert(v3.filter(col("id") === 8).select("text").head().getString(0)
        == "B wins eight")
      assert(v3.filter(col("id") === 0).select("text").head().getString(0)
        == "A zero", "loser's stale write must not land")
    } finally {
      SnapshotTable.onBeforeCommit = () => ()
      graft.Scratch.deleteTree(t)
    }
  }

  test("compact: the current version collapses to ONE file per bucket, " +
    "content bit-identical, history intact, fragmented gen vacuumable") {
    val t = graft.Scratch.dir("snapspec_compact_")
    try {
      // 8-way repartition fragments every bucket across several part
      // files at init (multiple tasks write into the same bucket dir)
      val df = (0L until 256L).map(i => (i, s"text $i", i)).toDF("id", "text", "score")
        .repartition(8)
      SnapshotTable.init(t, df, "id")
      val before = SnapshotTable.readAsOf(spark, t, 0)
      val filesBefore = before.inputFiles.length
      assert(filesBefore > SnapshotTable.NumBuckets,
        s"fixture not fragmented ($filesBefore files) — test lost its teeth")
      val content0 = before.collect().map(_.toSeq).toSet
      val v = SnapshotTable.compact(spark, t, "id")
      assert(v == 1)
      val after = SnapshotTable.readAsOf(spark, t, 1)
      // exactly one file per non-empty bucket
      val byDir = after.inputFiles.groupBy(f =>
        f.substring(0, f.lastIndexOf('/')))
      assert(byDir.size == SnapshotTable.NumBuckets)
      assert(byDir.values.forall(_.length == 1),
        s"bucket dir holds >1 file post-compact: ${byDir.view.mapValues(_.length).toMap}")
      // logical content bit-identical; v0 still reads
      assert(after.collect().map(_.toSeq).toSet == content0)
      assert(SnapshotTable.readAsOf(spark, t, 0).count() == 256)
      // vacuum with the post-compact horizon frees the fragmented gen
      val gone = SnapshotTable.vacuum(t, retainFrom = 1)
      assert(gone.nonEmpty)
      assert(SnapshotTable.readAsOf(spark, t, 1).collect()
        .map(_.toSeq).toSet == content0)
    } finally graft.Scratch.deleteTree(t)
  }

  test("vacuum: lost-race orphan dirs are collected, retained versions " +
    "keep every file, and a retention horizon frees pre-horizon COW") {
    val (t, _) = freshTable()
    try {
      // manufacture an orphan: a lost disjoint race leaves writer A's
      // first prepared dir unreferenced
      var fired = false
      SnapshotTable.onBeforeCommit = () => if (!fired) {
        fired = true
        SnapshotTable.merge(spark, t,
          Seq((3L, "racer", 3L)).toDF("id", "text", "score"), "id")
      }
      try SnapshotTable.merge(spark, t,
        Seq((0L, "zero v2", 9L)).toDF("id", "text", "score"), "id")
      finally SnapshotTable.onBeforeCommit = () => ()
      assert(SnapshotTable.currentVersion(t) == 2)
      val before = SnapshotTable.readAsOf(spark, t, 2).collect()
        .map(_.toSeq).toSet
      // full-history vacuum: only the orphan goes; every version of
      // the manifest stays readable afterwards
      val gone = SnapshotTable.vacuum(t)
      assert(gone.nonEmpty, "expected the lost race's orphan dir")
      val manifestPaths = SnapshotTable.manifest(spark, t)
        .select("path").collect().map(_.getString(0)).toSet
      assert(gone.forall(p => !manifestPaths.contains(p)),
        "vacuum deleted a manifest-referenced dir")
      for (v <- 0 to 2) SnapshotTable.readAsOf(spark, t, v).count()
      assert(SnapshotTable.readAsOf(spark, t, 2).collect()
        .map(_.toSeq).toSet == before)
      // retention horizon 2: v0's superseded bucket-0/bucket-3 states
      // are freed; v2 still reads exactly as before
      val expired = SnapshotTable.vacuum(t, retainFrom = 2)
      assert(expired.nonEmpty, "expected pre-horizon COW dirs to free")
      assert(SnapshotTable.readAsOf(spark, t, 2).collect()
        .map(_.toSeq).toSet == before)
      // and the freed dirs are exactly the ones live only below the
      // horizon — reading v0 now fails (contract: time travel below
      // the retention horizon is gone)
      intercept[Exception] {
        SnapshotTable.readAsOf(spark, t, 0).count()
      }
    } finally {
      SnapshotTable.onBeforeCommit = () => ()
      graft.Scratch.deleteTree(t)
    }
  }

  test("schema evolution: a merge may add columns (old rows read NULL " +
    "at every version boundary) and omit columns (new rows read NULL)") {
    val (t, _) = freshTable()
    try {
      // v1 adds a `lang` column the table never had
      val v1 = SnapshotTable.merge(spark, t,
        Seq((0L, "zero v1", 5L, "en"), (100L, "hundred", 6L, "de"))
          .toDF("id", "text", "score", "lang"), "id")
      assert(v1 == 1)
      val r1 = SnapshotTable.readAsOf(spark, t, 1)
      assert(r1.columns.toSet == Set("id", "text", "score", "lang"))
      assert(r1.filter(col("id") === 0).select("lang").head().getString(0)
        == "en")
      // pre-evolution rows (untouched bucket AND cow-copied neighbors)
      // read NULL for the new column
      assert(r1.filter(col("lang").isNull).count() == 63)
      // v0 predates the column entirely
      assert(!SnapshotTable.readAsOf(spark, t, 0).columns.contains("lang"))
      // v2 omits `lang` (and `score`): absent columns backfill NULL
      // for the new row, everything else keeps its value
      SnapshotTable.merge(spark, t,
        Seq((200L, "two hundred")).toDF("id", "text"), "id")
      val r2 = SnapshotTable.readAsOf(spark, t, 2)
      assert(r2.count() == 66)
      val row200 = r2.filter(col("id") === 200).head()
      assert(row200.getString(r2.columns.indexOf("text")) == "two hundred")
      assert(row200.isNullAt(r2.columns.indexOf("score")))
      assert(row200.isNullAt(r2.columns.indexOf("lang")))
      assert(r2.filter(col("id") === 0).select("lang").head().getString(0)
        == "en")
      // the change feed aligns both sides to the union schema: the v1
      // evolution surfaces as an update pair on key 0 whose preimage
      // lang is NULL and postimage is 'en'
      val ch = SnapshotTable.changesBetween(spark, t, 0, 1, "id")
      val pre = ch.filter(col("_change_type") === "update_preimage" &&
        col("id") === 0).head()
      val post = ch.filter(col("_change_type") === "update_postimage" &&
        col("id") === 0).head()
      assert(pre.isNullAt(ch.columns.indexOf("lang")))
      assert(post.getString(ch.columns.indexOf("lang")) == "en")
    } finally graft.Scratch.deleteTree(t)
  }

  test("schema evolution rejects a TYPE change on an existing column " +
    "loudly (evolution only adds columns; the explicit-schema read " +
    "path would otherwise silently misread)") {
    val (t, _) = freshTable()
    try {
      // `score` is LONG in the table; a merge carrying it as STRING
      // must throw before any file is written
      val ex = intercept[IllegalArgumentException] {
        SnapshotTable.merge(spark, t,
          Seq((0L, "zero typed", "not-a-long"))
            .toDF("id", "text", "score"), "id")
      }
      assert(ex.getMessage.contains("type changed"))
      // the table is untouched: still at version 0 with original rows
      assert(SnapshotTable.currentVersion(t) == 0)
      assert(SnapshotTable.readAsOf(spark, t, 0)
        .filter(col("id") === 0).select("text").head().getString(0)
        == "text number 0")
    } finally graft.Scratch.deleteTree(t)
  }

  test("historical versions are immutable under later commits, and " +
    "upsert semantics are exact per key") {
    val (t, df) = freshTable()
    try {
      val v0Before = SnapshotTable.readAsOf(spark, t, 0).collect()
        .map(_.toSeq).toSet
      SnapshotTable.merge(spark, t,
        Seq((5L, "five v1", 1L), (100L, "new hundred", 2L))
          .toDF("id", "text", "score"), "id")
      SnapshotTable.merge(spark, t,
        Seq((5L, "five v2", 3L)).toDF("id", "text", "score"), "id")
      // v0 unchanged after two commits
      val v0After = SnapshotTable.readAsOf(spark, t, 0).collect()
        .map(_.toSeq).toSet
      assert(v0After == v0Before, "time travel to v0 drifted")
      // v1: key 5 replaced once, key 100 inserted, count = 65
      val v1 = SnapshotTable.readAsOf(spark, t, 1)
      assert(v1.count() == 65)
      assert(v1.filter(col("id") === 5).select("text").head().getString(0)
        == "five v1")
      assert(v1.filter(col("id") === 100).count() == 1)
      // v2: key 5 replaced again, everything else as v1
      val v2 = SnapshotTable.readAsOf(spark, t, 2)
      assert(v2.count() == 65)
      assert(v2.filter(col("id") === 5).select("text").head().getString(0)
        == "five v2")
      assert(v2.filter(col("id") =!= 5)
        .exceptAll(v1.filter(col("id") =!= 5)).count() == 0)
      assert(SnapshotTable.currentVersion(t) == 2)
    } finally graft.Scratch.deleteTree(t)
  }
}
