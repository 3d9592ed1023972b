package graft

import graft.operators.Scd
import org.apache.spark.sql.functions._

/** Pins [[Scd.scd2Merge]] semantics on a handcrafted dimension: change,
  * no-change, new-key, NULL-transition, history pass-through, and the
  * idempotent re-merge contract.
  */
class ScdSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("scd2Merge: close+reopen changed, keep unchanged, open new, pass history") {
    val current = Seq(
      // key 1: will change segment
      (1L, "alice", "AUTO", ts("1990-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp], true),
      // key 1's already-closed history row must pass through untouched
      (1L, "alice", "OLD", ts("1980-01-01 00:00:00"), ts("1990-01-01 00:00:00"), false),
      // key 2: unchanged
      (2L, "bob", "BIKE", ts("1990-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp], true),
      // key 3: open row with NULL attr — incoming non-null must count as change
      (3L, "carol", null.asInstanceOf[String], ts("1990-01-01 00:00:00"), null.asInstanceOf[java.sql.Timestamp], true))
      .toDF("k", "name", "seg", "valid_from", "valid_to", "is_current")
      .withColumn("valid_from", col("valid_from").cast("timestamp_ntz"))
      .withColumn("valid_to", col("valid_to").cast("timestamp_ntz"))
    val eff = ts("1996-06-01 00:00:00")
    val incoming = Seq(
      (1L, "alice", "TRUCK"), // changed
      (2L, "bob", "BIKE"),    // identical → no-op
      (3L, "carol", "BOAT"),  // NULL → value transition
      (9L, "zoe", "SHIP"))    // brand-new key
      .toDF("k", "name", "seg")
      .withColumn("eff", lit(eff).cast("timestamp_ntz"))

    val out = Scd.scd2Merge(current, incoming, "k", Seq("name", "seg"), "eff")
    val rows = out.select(col("k"), col("name"), col("seg"),
      col("valid_from").cast("timestamp"), col("valid_to").cast("timestamp"),
      col("is_current"))
      .as[(Long, String, String, java.sql.Timestamp, java.sql.Timestamp, Boolean)]
      .collect().toSet

    val e1990 = ts("1990-01-01 00:00:00")
    assert(rows == Set(
      (1L, "alice", "OLD", ts("1980-01-01 00:00:00"), e1990, false), // history
      (1L, "alice", "AUTO", e1990, eff, false),                      // closed
      (1L, "alice", "TRUCK", eff, null, true),                       // reopened
      (2L, "bob", "BIKE", e1990, null, true),                        // unchanged
      (3L, "carol", null, e1990, eff, false),                        // null→value closes
      (3L, "carol", "BOAT", eff, null, true),
      (9L, "zoe", "SHIP", eff, null, true)))                         // new key

    // idempotency: re-merging the same batch changes nothing — every
    // incoming row now equals its open version
    val again = Scd.scd2Merge(out, incoming, "k", Seq("name", "seg"), "eff")
    assert(again.count() == out.count())
    assert(again.filter(col("is_current")).count() == out.filter(col("is_current")).count())
  }

  test("streamScd2: versions across micro-batches; torn-batch replay is a no-op") {
    import java.nio.file.Files
    val landing = tempDir("scd_src")
    val target = tempDir("scd_tgt").toString + "/dim"
    val ckpt = tempDir("scd_ck").toString
    def batchDf(rows: Seq[(Long, String, String)], eff: String) =
      rows.toDF("k", "name", "seg")
        .withColumn("eff", lit(eff).cast("timestamp_ntz"))
    def start() = graft.sources.Sinks.streamScd2(
      spark.readStream.schema("k LONG, name STRING, seg STRING, eff TIMESTAMP_NTZ")
        .option("maxFilesPerTrigger", "1").parquet(landing.toString),
      target, "k", Seq("name", "seg"), "eff", ckpt)
    def snapshot = spark.read.parquet(target)
      .select(col("k"), col("seg"), col("is_current"))
      .as[(Long, String, Boolean)].collect().toSet

    // batch 0: initial load; batch 1: key 1 changes, key 5 arrives. The
    // crash hook fires AFTER batch 1's merge+overwrite lands but BEFORE its
    // checkpoint commit — the torn-batch shape (batch 0 is committed, so
    // only the LAST batch replays; that ordering guarantee is what the
    // merge's no-op-on-reapply property is scoped to)
    // single FILES with ordered mtimes (a nested directory per batch would
    // be invisible to the non-recursive file-stream listing)
    val base = System.currentTimeMillis()
    SparkEntry.writeSliceFile(
      batchDf(Seq((1L, "a", "AUTO"), (2L, "b", "BIKE")), "1990-01-01 00:00:00"),
      landing, "b0.parquet", base)
    SparkEntry.writeSliceFile(
      batchDf(Seq((1L, "a", "TRUCK"), (5L, "e", "SHIP")), "1996-06-01 00:00:00"),
      landing, "b1.parquet", base + 2000L)
    try {
      graft.sources.Sinks.postAppendHook = id =>
        if (id == 1) throw new RuntimeException("torn scd2 batch")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        start().awaitTermination()
      }
    } finally graft.sources.Sinks.postAppendHook = _ => ()
    val expected = Set(
      (1L, "AUTO", false), (1L, "TRUCK", true),
      (2L, "BIKE", true), (5L, "SHIP", true))
    assert(snapshot == expected, "torn batch left its merge behind")
    val versionsBefore = spark.read.parquet(target).count()

    // restart from the SAME checkpoint: batch 1 replays over the already-
    // merged target; tracked attrs equal its open rows, so nothing closes,
    // opens, or duplicates
    start().awaitTermination()
    assert(snapshot == expected, "replayed torn batch must not re-version")
    assert(spark.read.parquet(target).count() == versionsBefore)
  }

  test("snapshotDiff: added/removed/changed tagged, unchanged omitted, null-safe") {
    val old = Seq((1L, Some("a")), (2L, Some("b")), (3L, None: Option[String]),
      (4L, Some("d"))).toDF("k", "v")
    val fresh = Seq((1L, Some("a")), (3L, Some("c")), (4L, None: Option[String]),
      (5L, Some("e"))).toDF("k", "v")
    val got = Scd.snapshotDiff(old, fresh, "k", Seq("v"))
      .as[(Long, String)].collect().toSet
    assert(got == Set(
      (2L, "removed"),   // key gone
      (3L, "changed"),   // NULL → value
      (4L, "changed"),   // value → NULL
      (5L, "added")))    // key new; key 1 unchanged → omitted
  }

  test("q_scd2_customers: exactly one open row per live key, versions do not overlap") {
    val out = SparkEntry.queries("q_scd2_customers")(spark, Sf)
    val perKey = out.filter(col("is_current"))
      .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 1)
    assert(perKey.isEmpty, "every key must have exactly one open version")
    // closed versions end exactly where their successor starts
    val bad = out.as("a").join(out.as("b"),
      col("a.c_custkey") === col("b.c_custkey") &&
        !col("a.is_current") && col("b.is_current") &&
        col("a.valid_to") =!= col("b.valid_from"))
    assert(bad.isEmpty, "version chain must be gap-free")
  }

  test("as-of reconstruction: boundary instant belongs to the NEW version") {
    val dim = SparkEntry.queries("q_scd2_customers")(spark, Sf)
    // at the exact effective instant, a changed key's live row must be the
    // V2 version (valid_to > ts excludes the expired row; valid_from <= ts
    // admits the successor) — the off-by-one q_scd2_asof's oracle can't see
    val ts = lit("1996-06-01 00:00:00").cast("timestamp_ntz")
    val live = dim.filter(col("valid_from") <= ts &&
      (col("valid_to").isNull || col("valid_to") > ts))
    val changed = live.filter(col("c_custkey") % 7 === 0 &&
      col("c_custkey") < 1000000L)
    assert(changed.count() > 0)
    assert(changed.filter(!col("c_mktsegment").endsWith("_V2")).isEmpty,
      "expired pre-change rows leaked into the as-of state at the boundary")
    // and exactly one live row per key at any instant
    val dup = live.groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 1)
    assert(dup.isEmpty)
  }

  test("changelogApply: latest version wins, delete removes the key, no sort") {
    val chg = Seq(
      (1L, 1L, "U", "a"), (1L, 3L, "U", "c"), (1L, 2L, "U", "b"), // upserts
      (2L, 1L, "U", "x"), (2L, 2L, "D", "x"),                     // del last
      (3L, 2L, "U", "y"), (3L, 1L, "D", "z"),                     // del superseded
      (4L, 7L, "D", "q")                                          // only a delete
    ).toDF("k", "ver", "op", "v")
    val got = Scd.changelogApply(chg, "k", "ver", "op", "D", Seq("v"))
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 3L, "c"),  // highest version's payload, arrival order irrelevant
      (3L, 2L, "y"))) // delete at ver 1 superseded by the ver-2 upsert
    // keys 2 and 4 (delete wins) are ABSENT, not null-padded

    // the scale contract: the argmax is an aggregation with a PARTIAL
    // (map-side) combine — each key collapses to one struct before the
    // exchange — never a row_number window over the full changelog. (The
    // struct buffer makes it a SortAggregate, which sorts by the GROUP key
    // within partitions — that is not the window's per-key version sort.)
    val plan = Scd.changelogApply(chg, "k", "ver", "op", "D", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"changelogApply must not window the changelog:\n$plan")
    assert(plan.contains("partial_max_by"),
      s"expected a partial-aggregating argmax:\n$plan")
  }

  test("changelogApply: a version collision resolves deterministically, not by arrival") {
    // two records share (key, version) — a malformed feed; the winner must
    // be the lexicographic max of (ver, op, payload), same under any
    // partitioning or merge order (found live: sf0.001 has a duplicated
    // (orderkey, linenumber) pair colliding the synthetic version key)
    val chg = Seq(
      (1L, 10L, "U", "b"), (1L, 10L, "U", "a"), // tie on ver: 'b' wins
      (2L, 10L, "U", "x"), (2L, 10L, "D", "y")) // tie on ver: op 'U' > 'D'
      .toDF("k", "ver", "op", "v")
    val got = Scd.changelogApply(chg, "k", "ver", "op", "D", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == Map(1L -> "b", 2L -> "x"), s"tiebreak wrong: $got")
    // and the same input reversed gives the identical answer
    val rev = Scd.changelogApply(
      chg.orderBy(col("v").desc), "k", "ver", "op", "D", Seq("v"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rev == got)
  }

  test("changelogApply: replaying the changelog is a no-op (idempotent)") {
    val chg = Seq((1L, 1L, "U", "a"), (1L, 2L, "U", "b"), (2L, 1L, "D", "x"))
      .toDF("k", "ver", "op", "v")
    val once = Scd.changelogApply(chg, "k", "ver", "op", "D", Seq("v"))
    val twice = Scd.changelogApply(chg.unionByName(chg.limit(2)), // partial replay
      "k", "ver", "op", "D", Seq("v"))
    // duplicated records carry identical (ver, payload) so the argmax is
    // unchanged — the at-least-once delivery contract
    assert(once.collect().toSet == twice.collect().toSet)
  }
}
