package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.SessionConf.withConf
import graft.capture.CdcCapture
import graft.sink.JsonEnvelope

/** Oracle-checked queries for the CDC core (SURVEY.md §2.1-§2.4), driven by
  * the `events` table (shape-compatible with the envelope role: monotone
  * event_id, ts, JSON props — FIXTURES.md §B).
  *
  * Every query is deterministic (explicit ORDER BY, integral or
  * rounded outputs, no wall-clock) so the driver's DuckDB hash compare is
  * stable. Column names match the oracle SQL exactly.
  */
object CdcQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** Snapshot pair used by the capture queries: prev/cur derived
    * deterministically from `events`, with value held as integer cents so
    * the JSON payloads contain no floating-point text.
    */
  private def snapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = events(s, dir).select(
      col("event_id"),
      col("user_id"),
      col("event_type"),
      round(col("value") * 100).cast("long").as("value_cents")
    )
    val prev = base.where(col("event_id") % 3 =!= 0)
    val cur = base
      .where(col("event_id") % 5 =!= 0)
      .withColumn(
        "event_type",
        when(col("event_id") % 7 === 0, lit("edited")).otherwise(col("event_type"))
      )
    (prev, cur)
  }

  private val snapshotSql =
    """WITH prev AS (
      |  SELECT event_id, user_id, event_type,
      |         CAST(round(value * 100) AS BIGINT) AS value_cents
      |  FROM events WHERE event_id % 3 <> 0
      |), cur AS (
      |  SELECT event_id, user_id,
      |         CASE WHEN event_id % 7 = 0 THEN 'edited' ELSE event_type END AS event_type,
      |         CAST(round(value * 100) AS BIGINT) AS value_cents
      |  FROM events WHERE event_id % 5 <> 0
      |), diff AS (
      |  SELECT coalesce(p.event_id, c.event_id) AS pk,
      |         CASE WHEN p.event_id IS NULL THEN 'INSERT'
      |              WHEN c.event_id IS NULL THEN 'DELETE'
      |              ELSE 'UPDATE' END AS operation,
      |         CASE WHEN p.event_id IS NOT NULL THEN to_json(struct_pack(
      |              event_id := p.event_id, user_id := p.user_id,
      |              event_type := p.event_type, value_cents := p.value_cents)) END AS before,
      |         CASE WHEN c.event_id IS NOT NULL THEN to_json(struct_pack(
      |              event_id := c.event_id, user_id := c.user_id,
      |              event_type := c.event_type, value_cents := c.value_cents)) END AS after
      |  FROM prev p FULL OUTER JOIN cur c ON p.event_id = c.event_id
      |  WHERE p.event_id IS NULL OR c.event_id IS NULL
      |     OR p.user_id IS DISTINCT FROM c.user_id
      |     OR p.event_type IS DISTINCT FROM c.event_type
      |     OR p.value_cents IS DISTINCT FROM c.value_cents
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // C1-C4: snapshot-diff capture → classify → row-to-JSON envelope
    "c1_capture_diff" -> { (s, dir) =>
      val (prev, cur) = snapshots(s, dir)
      CdcCapture
        .capture(prev, cur, Seq("event_id"), "dataschema", "events",
          to_timestamp(lit("2025-06-14 00:00:00")))
        .select(
          get_json_object(coalesce(col("after"), col("before")), "$.event_id")
            .cast("long").as("pk"),
          col("operation"),
          col("before"),
          col("after")
        )
        .orderBy("pk")
    },

    // C1b: the SAME diff through the PK-bucketed snapshot store
    // (writeSnapshotBucketed + captureBucketed — the exchange-free
    // layout a deployment persists snapshots in; CdcCaptureSpec pins
    // the plan has no Exchange). Shares C1's oracle: the bucketed path
    // must be bit-identical to the plain diff.
    "c1b_capture_bucketed" -> { (s, dir) =>
      val (prev, cur) = snapshots(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_capb").toString
      CdcCapture.writeSnapshotBucketed(prev, "c1b_prev", s"$base/prev", Seq("event_id"), 8)
      CdcCapture.writeSnapshotBucketed(cur, "c1b_cur", s"$base/cur", Seq("event_id"), 8)
      CdcCapture
        .captureBucketed(s, "c1b_prev", "c1b_cur", Seq("event_id"), "dataschema", "events",
          to_timestamp(lit("2025-06-14 00:00:00")))
        .select(
          get_json_object(coalesce(col("after"), col("before")), "$.event_id")
            .cast("long").as("pk"),
          col("operation"),
          col("before"),
          col("after")
        )
        .orderBy("pk")
    },

    // C3: operation classification histogram over the same diff
    "c3_classify_counts" -> { (s, dir) =>
      val (prev, cur) = snapshots(s, dir)
      CdcCapture
        .capture(prev, cur, Seq("event_id"), "dataschema", "events",
          to_timestamp(lit("2025-06-14 00:00:00")))
        .groupBy("operation")
        .agg(count(lit(1)).as("n"))
        .orderBy("operation")
    },

    // C4: row → JSON snapshot (to_json(struct(...)), reference init.sql:18)
    "c4_row_json" -> { (s, dir) =>
      events(s, dir)
        .where(col("event_id") < 1000)
        .select(
          col("event_id"),
          to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("row_json")
        )
        .orderBy("event_id")
    },

    // C6: monotonic id assignment above a checkpointed base
    "c6_event_id_assign" -> { (s, dir) =>
      val ev = events(s, dir).where(col("event_id") < 2000)
      CdcCapture
        .assignIds(ev.withColumn("event_id0", col("event_id")).drop("event_id")
          .withColumnRenamed("event_id0", "orig_id"), 1000000L, Seq("ts", "orig_id"))
        .select(col("orig_id").as("event_id"), col("event_id").as("new_id"))
        .orderBy("event_id")
    },

    // C6b: the same id assignment through the DISTRIBUTED form (range
    // partition + per-partition offset, no single-partition window) — the
    // path a 1000-executor capture batch actually takes, oracle-checked
    // for exact parity with the sequence semantics
    "c6b_event_id_distributed" -> { (s, dir) =>
      val ev = events(s, dir).where(col("event_id") < 2000)
      CdcCapture
        .assignIdsDistributed(ev.withColumn("event_id0", col("event_id")).drop("event_id")
          .withColumnRenamed("event_id0", "orig_id"), 1000000L, Seq("ts", "orig_id"))
        .select(col("orig_id").as("event_id"), col("event_id").as("new_id"))
        .orderBy("event_id")
    },

    // S1: time-range partitioning — per-event_date layout stats
    "s1_partition_counts" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("n"), min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
        .orderBy("event_date")
    },

    // S2: retention window — rows within 7 days of the log's max date
    "s2_retention_window" -> { (s, dir) =>
      val ev = events(s, dir)
      val mx = ev.agg(max(to_date(col("ts"))).as("max_d"))
      ev.crossJoin(broadcast(mx))
        .where(to_date(col("ts")) >= date_sub(col("max_d"), 7))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
        .agg(count(lit(1)).as("n"))
        .orderBy("event_date")
    },

    // S4: uniqueness-constraint check (groupBy key → violations)
    "s4_unique_violations" -> { (s, dir) =>
      events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n"))
        .where(col("n") > 1)
        .orderBy("user_id", "event_type")
    },

    // S5: ingest-time defaults (coalesce missing JSON field with default)
    "s5_column_defaults" -> { (s, dir) =>
      events(s, dir)
        .where(col("event_id") < 1000)
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"),
          coalesce(get_json_object(col("props"), "$.missing"), lit("default_v")).as("with_default")
        )
        .orderBy("event_id")
    },

    // R1+R2: the view — explicit projection under conjunctive equality filter
    "r1_r2_view_filter" -> { (s, dir) =>
      events(s, dir)
        .where(col("event_type") === "click" && col("user_id") % 2 === 0)
        .select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          col("event_type"),
          col("user_id")
        )
        .orderBy("event_id")
    },

    // R3: lexicographic (ts, event_id) incremental-scan predicate
    "r3_incremental_scan" -> { (s, dir) =>
      val t = to_timestamp(lit("2024-01-15 00:00:00"))
      events(s, dir)
        .where(col("ts") > t || (col("ts") === t && col("event_id") > 5000))
        .select(col("event_id"), unix_timestamp(col("ts")).as("epoch_s"), col("event_type"))
        .orderBy("event_id")
    },

    // R4: delivery ordering — position in (ts, event_id) commit order
    "r4_ordered_delivery" -> { (s, dir) =>
      events(s, dir)
        .withColumn("rn", row_number().over(Window.orderBy(col("ts"), col("event_id"))))
        .where(col("rn") <= 500)
        .select(col("rn"), col("event_id"))
        .orderBy("rn")
    },

    // R5+D2: source multiplexing + topic routing (one topic per relation)
    "r5_d2_topic_routing" -> { (s, dir) =>
      val ev = events(s, dir)
      val clicks = JsonEnvelope
        .withTopic(ev.where(col("event_type") === "click"), "event_log_clicks")
        .select(col("topic"), col("event_id"))
      val errors = JsonEnvelope
        .withTopic(ev.where(col("event_type") === "error"), "event_log_errors")
        .select(col("topic"), col("event_id"))
      clicks.unionByName(errors).orderBy("topic", "event_id")
    },

    // C8 (the inverse of capture): apply a change log to a snapshot —
    // latest event per key wins, DELETE removes, after-images parsed with
    // the declared payload schema (reference readme.md:218)
    "c8_apply_log" -> { (s, dir) =>
      val (snapshot, log, payloadSchema) = applyFixture(s, dir)
      graft.capture.CdcApply
        .applyLog(snapshot, log, Seq("rid"), payloadSchema)
        .orderBy("rid")
    },

    // C9: SCD2 history — the change log materialized as a type-2 versions
    // table (one row per version a key ever held, valid_from/valid_to on
    // the monotonic event_id axis, snapshot seeding the pre-log version)
    // rather than one point-in-time state; the "reconstruct full change
    // histories" capability (readme.md:218) as a queryable dimension
    "c9_scd2_history" -> { (s, dir) =>
      val (snapshot, log, payloadSchema) = applyFixture(s, dir)
      graft.capture.CdcApply
        .scd2History(snapshot, log, Seq("rid"), payloadSchema)
        .orderBy(col("rid"), col("valid_from_id").asc_nulls_first)
    },

    // C10: SCHEMA EVOLUTION across capture→log→apply — the ALTER TABLE
    // ADD COLUMN shape a long-lived CDC deployment hits: events captured
    // BEFORE the evolution carry neither the new envelope column
    // (capture_ver) nor the new payload field (etype); events after the
    // split carry both. Both legs land in ONE physical parquet log
    // (separate appends → heterogeneous file schemas), readEvolved
    // merges footers and applies the envelope default, and applyLog
    // parses every payload with the WIDENED schema (old JSON → null
    // etype). Output: the reconstructed widened snapshot plus each
    // surviving row's winning capture version (0 = untouched seed).
    "c10_schema_evolution" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      // cap to 30k events: covers the whole sf0.01 oracle corpus (10k)
      // unchanged; at bench SFs the gate times the evolution machinery
      // (two-schema log, footer merge, widened apply), not corpus volume
      val ev = events(s, dir).where(col("event_id") <= 30000)
      val split = to_timestamp(lit("2024-01-15 00:00:00"))
      // modulus prime ABOVE the sf0.01 corpus (10k events): each rid sees
      // at most one event, so winners split across both capture versions
      // and ~2k seeds stay untouched — all three evolution fates surface
      val rid = (col("event_id") % 12007).as("rid")
      val cents = round(col("value") * 100).cast("long").as("cents")
      val payloadOld = to_json(struct(rid, col("user_id"), cents))
      val payloadNew = to_json(struct(rid, col("user_id"), cents, col("event_type").as("etype")))
      def leg(df: DataFrame, payload: org.apache.spark.sql.Column): DataFrame = df.select(
        col("ts"),
        col("event_id"),
        lit("dataschema").as("schema_name"),
        lit("events").as("table_name"),
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "DELETE")
          .otherwise("UPDATE").as("operation"),
        when(col("event_type") === "signup", lit(null).cast("string"))
          .otherwise(payload).as("before"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(payload).as("after"))
      val pre = leg(ev.where(col("ts") <= split), payloadOld)
      val post = leg(ev.where(col("ts") > split), payloadNew)
        .withColumn("capture_ver", lit(2L))
      val path = java.nio.file.Files.createTempDirectory("graft-evolved-log").toString
      graft.log.CdcLog.append(pre, path)
      graft.log.CdcLog.append(post, path)
      val log = graft.log.CdcLog.readEvolved(s, path, Map("capture_ver" -> lit(1L)))
      val payloadSchema = StructType(Seq(
        StructField("rid", LongType), StructField("user_id", LongType),
        StructField("cents", LongType), StructField("etype", StringType)))
      val snapshot = s.range(12007).select(
        col("id").as("rid"), lit(-1L).as("user_id"), lit(0L).as("cents"),
        lit(null).cast("string").as("etype"))
      val applied = graft.capture.CdcApply.applyLog(snapshot, log, Seq("rid"), payloadSchema)
      val wv = Window.partitionBy("rid").orderBy(col("event_id").desc)
      val winningVer = log
        .select(
          col("event_id"),
          get_json_object(coalesce(col("after"), col("before")), "$.rid")
            .cast("long").as("rid"),
          col("capture_ver"))
        .withColumn("__rn", row_number().over(wv))
        .where(col("__rn") === 1)
        .select("rid", "capture_ver")
      applied
        .join(winningVer, Seq("rid"), "left_outer")
        .select(
          col("rid"), col("user_id"), col("cents"), col("etype"),
          coalesce(col("capture_ver"), lit(0L)).as("capture_ver"))
        .orderBy("rid")
    },

    // the WHOLE reference loop in one gate: change log → envelope encode →
    // topic layout → TopicSource consume → decode → apply onto a replica
    // snapshot. Same oracle as c8_apply_log — the transport legs (with
    // nested JSON-in-JSON escaping of before/after through the envelope)
    // must be lossless for the replica to converge to the same state.
    "e2e_topic_replica" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val (snapshot, log, payloadSchema) = applyFixture(s, dir)
      // gate-scoped shuffle width (the x_scd2_stream treatment): the
      // apply leg is one PK join of ≤100k-row frames — 8-way cuts the
      // fixed per-task setup 4× with no effect on the result (restored
      // on exit)
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val delivery = JsonEnvelope
          .withKey(
            JsonEnvelope.withTopic(JsonEnvelope.encode(log, "event_log"), "event_log"),
            col("event_id"))
          .select("topic", "key", "value")
        val out = java.nio.file.Files.createTempDirectory("graft-topic-replica").toString
        // 4-file topic layout: one file per input partition only adds
        // file/task setup to the consume leg of a ≤100k-row round trip
        delivery.coalesce(4).write.mode("overwrite").partitionBy("topic").parquet(out)
        val messageSchema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("operation", StringType),
          StructField("before", StringType),
          StructField("after", StringType)))
        val consumed = graft.sources.TopicSource.read(
          s, graft.sources.TopicSource.Config(brokers = None, path = out), Seq("cdc-event_log"))
        val replayed = graft.sources.TopicSource.decode(consumed, messageSchema)
        // materialize the applied replica inside the gate-scoped width so
        // later executions (the driver's hash read) see a finished frame,
        // not a lazy plan that re-runs after the conf is restored — via
        // cache + count rather than a parquet write + read-back, which
        // paid a full extra disk round trip per gate run
        val applied = graft.capture.CdcApply
          .applyLog(snapshot, replayed, Seq("rid"), payloadSchema)
          .orderBy("rid")
          .cache()
        applied.count()
        applied
      }
    },

    // End-to-end: envelope mapping → id assignment → partitioned log
    // append → read-back → per-table view (R1+R2) → incremental poll (R3).
    // The physical roundtrip through the event_date-partitioned parquet log
    // is inside the oracle gate: content must survive write+read exactly.
    "e2e_log_roundtrip" -> { (s, dir) =>
      import graft.log.CdcLog
      import graft.poll.IncrementalPoller
      import graft.views.EventViews
      val envelope = events(s, dir).select(
        col("ts"),
        lit("dataschema").as("schema_name"),
        when(col("event_id") % 4 === 0, "anomaly").otherwise("events").as("table_name"),
        when(col("event_type") === "signup", "INSERT")
          .when(col("event_type") === "error", "DELETE")
          .otherwise("UPDATE").as("operation"),
        when(col("event_type") === "signup", lit(null).cast("string"))
          .otherwise(to_json(struct(col("event_id"), col("user_id")))).as("before"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(to_json(struct(col("event_id"), col("user_id")))).as("after"),
        col("event_id")
      )
      val logPath = java.nio.file.Files.createTempDirectory("graft_e2e_log").toString
      CdcLog.append(envelope, logPath)
      val log = CdcLog.dedup(CdcLog.read(s, logPath))
      val view = EventViews.forTable(log, "dataschema", "events")
      IncrementalPoller
        .poll(view, IncrementalPoller.Offset(
          java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z")), 0L))
        .select(
          col("event_id"),
          unix_timestamp(col("ts")).as("epoch_s"),
          col("operation"),
          col("before"),
          col("after")
        )
        .orderBy("event_id")
    },

    // D1: Kafka-Connect JsonConverter envelope {"schema":...,"payload":...}
    "d1_json_envelope" -> { (s, dir) =>
      val rows = events(s, dir)
        .where(col("event_id") < 100)
        .select(col("event_id"), col("event_type"))
      JsonEnvelope
        .encode(rows, "event_log")
        .select(col("event_id"), col("value"))
        .orderBy("event_id")
    },

    // the schemas.enable=false production toggle: payload-only messages
    "d1b_envelope_schemaless" -> { (s, dir) =>
      val rows = events(s, dir)
        .where(col("event_id") < 100)
        .select(col("event_id"), col("event_type"))
      JsonEnvelope
        .encode(rows, "event_log", schemas = false)
        .select(col("event_id"), col("value"))
        .orderBy("event_id")
    },

    // the Connect AvroConverter deployment variant: binary Avro messages
    // with the schema out of band (a schema-registry stand-in). The gate
    // runs the full encode → binary value → decode trip and hash-matches
    // the DECODED rows against the original table — binary fidelity for
    // longs, micros timestamps, strings, and doubles in one pass.
    "d8_avro_envelope" -> { (s, dir) =>
      val rows = events(s, dir)
        .where(col("event_id") < 200)
        .select(
          col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value").as("val"))
      val schemaJson = graft.sink.AvroEnvelope.payloadSchemaJson(rows, "event_log")
      val wire = graft.sink.AvroEnvelope.encode(rows, "event_log").select("value")
      graft.sink.AvroEnvelope
        .decode(wire, schemaJson)
        .select(col("event_id"), col("ts_us"), col("event_type"), col("val"))
        .orderBy("event_id")
    },

    // the consumer half of the delivery contract: envelope-encode a typed
    // frame, write it in TopicSink's file-mode layout (topic-partitioned
    // parquet), read it back through TopicSource and decode — the gate
    // hash-matches the DECODED rows against the original table, so it
    // covers encode → topic layout → consume → from_json end to end.
    // ts travels as unix micros (int64): the envelope's JSON timestamp
    // rendering is millisecond-text, so a faithful consumer ships epoch
    // integers — the same choice the reference's int64 Timestamp logical
    // type makes (JsonEnvelope.connectType).
    "d7_topic_consume" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val rows = events(s, dir)
        .where(col("event_id") < 200)
        .select(
          col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_type"), col("value"))
      val delivery = JsonEnvelope
        .withKey(
          JsonEnvelope.withTopic(JsonEnvelope.encode(rows, "event_log"), "event_log"),
          col("event_id"))
        .select("topic", "key", "value")
      val out = java.nio.file.Files.createTempDirectory("graft-topic-consume").toString
      delivery.write.mode("overwrite").partitionBy("topic").parquet(out)
      val payloadSchema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts_us", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType)))
      val consumed = graft.sources.TopicSource.read(
        s, graft.sources.TopicSource.Config(brokers = None, path = out), Seq("cdc-event_log"))
      graft.sources.TopicSource
        .decode(consumed, payloadSchema)
        .select("event_id", "ts_us", "event_type", "value")
        .orderBy("event_id")
    },

    // R8 live: the jdbc branch executing against a REAL database. The
    // events fixture is seeded into an embedded in-memory Derby (the one
    // JDBC engine on the offline classpath — test scaffolding, the
    // production analogue being a pre-populated Postgres/Timescale), then
    // read back through JdbcSource in jdbc mode and polled from the
    // median (ts, event_id) offset — the poll predicate pushes into the
    // remote scan (PushedFilters, pinned in JdbcDerbySpec). The operator
    // path (format("jdbc") relation + poll filter) is fully distributed;
    // only the seeding harness collects.
    "r8_jdbc_poll" -> { (s, dir) =>
      val url = seedDerbyEvents(s, dir)
      val rel = graft.sources.JdbcSource.read(
        s,
        graft.sources.JdbcSource.Config(url = Some(url), tableWhitelist = Seq("events")),
        "events")
      val lower = rel.select(rel.columns.map(c => col(c).as(c.toLowerCase)).toIndexedSeq: _*)
      // offset = the row at rank count/2 in (ts, event_id) order, computed
      // from the database itself (TakeOrdered both times, no
      // single-partition window); strict lexicographic tail follows
      val n = (lower.count() / 2).toInt
      val mid = lower
        .orderBy(col("ts"), col("event_id")).limit(n)
        .orderBy(col("ts").desc, col("event_id").desc).limit(1)
        .select("ts", "event_id").head()
      graft.poll.IncrementalPoller
        .poll(lower, graft.poll.IncrementalPoller.Offset(mid.getTimestamp(0), mid.getLong(1)))
        .select(
          col("event_id"), unix_micros(col("ts")).as("ts_us"),
          col("user_id"), col("event_type"), col("value"))
        .orderBy("event_id")
    },

    // Streaming SCD2 lifecycle as a DRIVER GATE (r8 verdict: the op was
    // spec-only): the applyFixture change log arrives in three
    // event_id-ordered chunks — the middle one re-delivering the tail of
    // the first (at-least-once) — each processed by a separate
    // scd2Maintain streaming run (Trigger.AvailableNow) against the same
    // state table + checkpoint. The FINAL maintained table must equal the
    // one-shot batch SCD2 derivation the DuckDB oracle computes: chains
    // per rid on the monotone event_id axis, versions closed by the next
    // event (deletes close but emit no row), redeliveries absorbed by the
    // per-key high-water mark.
    "x_scd2_stream" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.log.CdcLog
      import graft.streaming.CdcStream
      val (_, log0, payloadSchema) = applyFixture(s, dir)
      val log = log0.select(
        to_timestamp(lit("2025-06-14 00:00:00")).as("ts"),
        lit("dataschema").as("schema_name"), lit("t").as("table_name"),
        col("operation"), col("before"), col("after"), col("event_id"))
      val base = java.nio.file.Files.createTempDirectory("graft_scd2_stream").toString
      val logPath = s"$base/log"; val statePath = s"$base/hist"; val ckpt = s"$base/ckpt"
      val c1 = log.agg(
        expr("percentile_approx(event_id, 0.5, 10000)").cast("long")).head().getLong(0)
      def runOnce(): Unit = {
        val q = CdcStream.scd2Maintain(
          CdcStream.readLogStream(s, logPath, CdcLog.read(s, logPath).schema),
          statePath, ckpt, Seq("rid"), payloadSchema, Trigger.AvailableNow())
        q.awaitTermination()
      }
      // gate-scoped shuffle width: the micro-batched runs pay
      // per-partition task/state setup on every batch, and the
      // ~60k-event fixture doesn't need 32-way shuffles (batch results
      // are partitioning-independent; restored on exit)
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        // two lifecycle runs, not three: run 2 both RESTARTS from the
        // checkpoint and RE-DELIVERS the last slice of run 1 (must be a
        // no-op), so restart recovery and at-least-once idempotence are
        // still both exercised — at two-thirds of the per-run streaming
        // setup cost (each AvailableNow run pays query start/stop and
        // per-batch state-store instantiation)
        CdcLog.append(log.where(col("event_id") <= c1), logPath); runOnce()
        CdcLog.append(log.where(col("event_id") > c1 - 50), logPath); runOnce()
      }
      s.read.parquet(statePath)
        .select(col("rid"), col("user_id"), col("cents"),
          col("valid_from_id"), col("valid_to_id"), col("is_current"))
        .orderBy(col("rid"), col("valid_from_id"))
    },

    // Streaming interval join as a DRIVER GATE: clicks joined to the
    // same user's errors in the preceding four hours, both sides REAL file
    // streams consumed one file per micro-batch (maxFilesPerTrigger=1,
    // two ts-ordered chunks each) through CdcStream.intervalJoin's
    // watermarked stream-stream range join, drained into a memory sink.
    // The watermark (90 days) exceeds the corpus span so nothing is
    // late-dropped and the streamed result must equal the batch interval
    // join the DuckDB oracle computes. StreamingSpec pins the
    // WATERMARK-BOUND state-eviction behavior on hand fixtures; this
    // gate pins full-corpus correctness of the operator.
    "x_interval_join" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.CdcStream
      val ev = events(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_ivj").toString
      // two ts-ordered files per side → two one-file-per-side micro-
      // batches: still a genuine multi-batch incremental-state lifecycle
      // (batch 2 joins against batch 1's buffered state), at two-thirds
      // of the three-chunk harness's per-batch state/task setup cost
      def side(tpe: String, path: String): Unit = ev
        .where(col("event_type") === tpe)
        .select(col("ts"), col("user_id"), col("event_id"))
        .repartitionByRange(2, col("ts"))
        .sortWithinPartitions("ts")
        .write.parquet(path)
      side("click", s"$base/l"); side("error", s"$base/r")
      val schema = ev.select(col("ts"), col("user_id"), col("event_id")).schema
      def stream(path: String) =
        s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
      // gate-scoped shuffle width: the stream-stream join instantiates a
      // state store per shuffle partition per micro-batch (2 batches
      // here) — 8 wide is plenty for the sf0.1 corpus and cuts the
      // per-batch state/task setup 4× (restored on exit)
      val sinkName = "ivj_" + java.lang.Long.toHexString(System.nanoTime())
      withConf(s, "spark.sql.shuffle.partitions" -> "8") {
        val joined = CdcStream.intervalJoin(
          stream(s"$base/l"), stream(s"$base/r"),
          keys = Seq("user_id"), tsCol = "ts", lookback = "4 hours", watermark = "90 days")
        val q = joined.writeStream.outputMode("append")
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", s"$base/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      s.table(sinkName)
        .select(col("user_id"), col("event_id").as("l_id"), col("r_event_id").as("r_id"),
          unix_micros(col("ts")).as("l_ts_us"), unix_micros(col("r_ts")).as("r_ts_us"))
        .orderBy("user_id", "l_id", "r_id")
    }
  )

  /** Seed `events` (from the sf dir) into an embedded in-memory Derby via
    * plain JDBC inserts, idempotently (skip when already seeded with the
    * same row count — Verify and best-of-N bench runs share one JVM). DB
    * name is keyed to the sf dir so scale factors never collide.
    */
  private def seedDerbyEvents(s: SparkSession, dir: String): String = synchronized {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home", System.getProperty("java.io.tmpdir"))
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val url = s"jdbc:derby:memory:graftgate$key"
    val rows = events(s, dir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect()
    val conn = java.sql.DriverManager.getConnection(s"$url;create=true")
    try {
      val st = conn.createStatement()
      val seeded =
        try {
          val rs = st.executeQuery("SELECT COUNT(*) FROM EVENTS")
          rs.next()
          val c = rs.getLong(1); rs.close(); c
        } catch { case _: java.sql.SQLException => -1L }
      if (seeded != rows.length.toLong) {
        if (seeded >= 0) st.executeUpdate("DROP TABLE EVENTS")
        st.executeUpdate(
          """CREATE TABLE EVENTS ("EVENT_ID" BIGINT, "TS" TIMESTAMP,
            | "USER_ID" BIGINT, "EVENT_TYPE" VARCHAR(64), "VALUE" DOUBLE)""".stripMargin)
        val ps = conn.prepareStatement("INSERT INTO EVENTS VALUES (?, ?, ?, ?, ?)")
        try {
          rows.grouped(5000).foreach { g =>
            g.foreach { r =>
              (0 until 5).foreach(i => ps.setObject(i + 1, r.get(i)))
              ps.addBatch()
            }
            ps.executeBatch(); ()
          }
        } finally ps.close()
      }
      st.close()
    } finally conn.close()
    url
  }

  /** Shared fixture for the apply-log gates: a synthetic change log over
    * `events` (op classed from event_type, integer-cents payloads so the
    * JSON carries no floating-point text) plus the cold replica snapshot
    * it applies onto, and the payload schema for decode.
    */
  private def applyFixture(s: SparkSession, dir: String) = {
    import org.apache.spark.sql.types._
    val payloadSchema = StructType(Seq(
      StructField("rid", LongType), StructField("user_id", LongType),
      StructField("cents", LongType)))
    val payload = to_json(struct(
      (col("event_id") % 4999).as("rid"),
      col("user_id"),
      round(col("value") * 100).cast("long").as("cents")))
    val log = events(s, dir).select(
      col("event_id"),
      when(col("event_type") === "signup", "INSERT")
        .when(col("event_type") === "error", "DELETE")
        .otherwise("UPDATE").as("operation"),
      when(col("event_type") === "signup", lit(null).cast("string"))
        .otherwise(payload).as("before"),
      when(col("event_type") === "error", lit(null).cast("string"))
        .otherwise(payload).as("after")
    )
    val snapshot = s.range(4999).select(
      col("id").as("rid"), lit(-1L).as("user_id"), lit(0L).as("cents"))
    (snapshot, log, payloadSchema)
  }

  private val envelopeSchemaBlock: String = {
    import org.apache.spark.sql.types._
    JsonEnvelope.schemaBlock(
      StructType(Seq(
        StructField("event_id", LongType, nullable = true),
        StructField("event_type", StringType, nullable = true)
      )),
      "event_log"
    )
  }

  private val applyLogSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_id % 4999 AS rid, user_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         CASE WHEN event_type = 'signup' THEN 'INSERT'
      |              WHEN event_type = 'error' THEN 'DELETE'
      |              ELSE 'UPDATE' END AS op
      |  FROM events
      |), latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY rid ORDER BY event_id DESC) AS rn FROM ev
      |), survivors AS (
      |  SELECT rid, user_id, cents FROM latest WHERE rn = 1 AND op <> 'DELETE'
      |), untouched AS (
      |  SELECT t.rid, CAST(-1 AS BIGINT) AS user_id, CAST(0 AS BIGINT) AS cents
      |  FROM range(4999) t(rid)
      |  WHERE t.rid NOT IN (SELECT rid FROM latest WHERE rn = 1)
      |)
      |SELECT rid, user_id, cents FROM untouched
      |UNION ALL
      |SELECT rid, user_id, cents FROM survivors
      |ORDER BY rid""".stripMargin

  val oracles: Map[String, String] = Map(
    "c1_capture_diff" ->
      s"""$snapshotSql
         |SELECT pk, operation, before, after FROM diff ORDER BY pk""".stripMargin,
    // the bucketed-store path must be bit-identical to the plain diff,
    // so it shares the full re-derivation verbatim
    "c1b_capture_bucketed" ->
      s"""$snapshotSql
         |SELECT pk, operation, before, after FROM diff ORDER BY pk""".stripMargin,
    "c3_classify_counts" ->
      s"""$snapshotSql
         |SELECT operation, count(*) AS n FROM diff GROUP BY operation ORDER BY operation""".stripMargin,
    "c4_row_json" ->
      """SELECT event_id,
        |       to_json(struct_pack(event_id := event_id, user_id := user_id,
        |                           event_type := event_type)) AS row_json
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin,
    "c6_event_id_assign" ->
      """SELECT event_id,
        |       1000000 + row_number() OVER (ORDER BY ts, event_id) AS new_id
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,
    "c6b_event_id_distributed" ->
      """SELECT event_id,
        |       1000000 + row_number() OVER (ORDER BY ts, event_id) AS new_id
        |FROM events WHERE event_id < 2000 ORDER BY event_id""".stripMargin,
    "s1_partition_counts" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n,
        |       min(event_id) AS min_id, max(event_id) AS max_id
        |FROM events GROUP BY 1 ORDER BY event_date""".stripMargin,
    "s2_retention_window" ->
      """WITH mx AS (SELECT max(CAST(ts AS DATE)) AS max_d FROM events)
        |SELECT strftime(ts, '%Y-%m-%d') AS event_date, count(*) AS n
        |FROM events, mx
        |WHERE CAST(ts AS DATE) >= max_d - 7
        |GROUP BY 1 ORDER BY event_date""".stripMargin,
    "s4_unique_violations" ->
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY user_id, event_type HAVING count(*) > 1
        |ORDER BY user_id, event_type""".stripMargin,
    "s5_column_defaults" ->
      """SELECT event_id,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       coalesce(json_extract_string(props, '$.missing'), 'default_v') AS with_default
        |FROM events WHERE event_id < 1000 ORDER BY event_id""".stripMargin,
    "r1_r2_view_filter" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, event_type, user_id
        |FROM events
        |WHERE event_type = 'click' AND user_id % 2 = 0
        |ORDER BY event_id""".stripMargin,
    "r3_incremental_scan" ->
      """SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, event_type
        |FROM events
        |WHERE ts > TIMESTAMP '2024-01-15 00:00:00'
        |   OR (ts = TIMESTAMP '2024-01-15 00:00:00' AND event_id > 5000)
        |ORDER BY event_id""".stripMargin,
    "r4_ordered_delivery" ->
      """SELECT CAST(rn AS INT) AS rn, event_id FROM (
        |  SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn FROM events
        |) WHERE rn <= 500 ORDER BY rn""".stripMargin,
    "r5_d2_topic_routing" ->
      """SELECT 'cdc-event_log_clicks' AS topic, event_id FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT 'cdc-event_log_errors' AS topic, event_id FROM events WHERE event_type = 'error'
        |ORDER BY topic, event_id""".stripMargin,
    "c8_apply_log" -> applyLogSql,
    // same latest-per-key replay, with the evolution split re-derived
    // declaratively: etype exists only for post-split events (the widened
    // payload), capture_ver defaults to 1 on pre-split rows (the merged
    // envelope default) and 0 on untouched seeds
    "c10_schema_evolution" ->
      """WITH ev AS (
        |  SELECT event_id, event_id % 12007 AS rid, user_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'signup' THEN 'INSERT'
        |              WHEN event_type = 'error' THEN 'DELETE'
        |              ELSE 'UPDATE' END AS op,
        |         CASE WHEN ts > TIMESTAMP '2024-01-15 00:00:00'
        |              THEN event_type END AS etype,
        |         CASE WHEN ts > TIMESTAMP '2024-01-15 00:00:00'
        |              THEN 2 ELSE 1 END AS capture_ver
        |  FROM events WHERE event_id <= 30000
        |), latest AS (
        |  SELECT *, row_number() OVER (PARTITION BY rid ORDER BY event_id DESC) AS rn
        |  FROM ev
        |), survivors AS (
        |  SELECT rid, user_id, cents, etype, capture_ver
        |  FROM latest WHERE rn = 1 AND op <> 'DELETE'
        |), untouched AS (
        |  SELECT t.rid, CAST(-1 AS BIGINT) AS user_id, CAST(0 AS BIGINT) AS cents,
        |         CAST(NULL AS VARCHAR) AS etype, 0 AS capture_ver
        |  FROM range(12007) t(rid)
        |  WHERE t.rid NOT IN (SELECT rid FROM latest WHERE rn = 1)
        |)
        |SELECT rid, user_id, cents, etype, CAST(capture_ver AS BIGINT) AS capture_ver
        |FROM untouched
        |UNION ALL
        |SELECT rid, user_id, cents, etype, CAST(capture_ver AS BIGINT) AS capture_ver
        |FROM survivors
        |ORDER BY rid""".stripMargin,
    // same ev classification as applyLogSql; DELETE closes the prior
    // version but emits no row, the snapshot seeds each key's first
    // version (valid_from_id NULL, open at log start)
    "c9_scd2_history" ->
      """WITH ev AS (
        |  SELECT event_id, event_id % 4999 AS rid, user_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'signup' THEN 'INSERT'
        |              WHEN event_type = 'error' THEN 'DELETE'
        |              ELSE 'UPDATE' END AS op
        |  FROM events
        |), seeded AS (
        |  SELECT event_id, rid, user_id, cents, op FROM ev
        |  UNION ALL
        |  SELECT NULL, t.rid, CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'SEED'
        |  FROM range(4999) t(rid)
        |), chained AS (
        |  SELECT *, lead(event_id) OVER (PARTITION BY rid ORDER BY event_id ASC NULLS FIRST) AS valid_to_id
        |  FROM seeded
        |)
        |SELECT rid, user_id, cents, event_id AS valid_from_id, valid_to_id,
        |       CAST(CASE WHEN valid_to_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM chained WHERE op <> 'DELETE'
        |ORDER BY rid, valid_from_id NULLS FIRST""".stripMargin,
    // byte-lossless transport ⇒ the replica converges to the same state
    "e2e_topic_replica" -> applyLogSql,
    // the jdbc-branch gate: everything strictly after the median
    // (ts, event_id) offset in lexicographic order — the same tail the
    // poll predicate pulls out of the live Derby
    "r8_jdbc_poll" ->
      """WITH o AS (
        |  SELECT ts, event_id FROM (
        |    SELECT ts, event_id, row_number() OVER (ORDER BY ts, event_id) AS rn
        |    FROM events
        |  ) WHERE rn = (SELECT count(*) // 2 FROM events)
        |)
        |SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id, e.event_type, e.value
        |FROM events e, o
        |WHERE e.ts > o.ts OR (e.ts = o.ts AND e.event_id > o.event_id)
        |ORDER BY e.event_id""".stripMargin,
    "e2e_log_roundtrip" ->
      """SELECT event_id,
        |       CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
        |       CASE WHEN event_type = 'signup' THEN 'INSERT'
        |            WHEN event_type = 'error' THEN 'DELETE'
        |            ELSE 'UPDATE' END AS operation,
        |       CASE WHEN event_type = 'signup' THEN NULL
        |            ELSE to_json(struct_pack(event_id := event_id, user_id := user_id)) END AS before,
        |       CASE WHEN event_type = 'error' THEN NULL
        |            ELSE to_json(struct_pack(event_id := event_id, user_id := user_id)) END AS after
        |FROM events
        |WHERE event_id % 4 <> 0
        |  AND ts > TIMESTAMP '2024-01-10 00:00:00'
        |ORDER BY event_id""".stripMargin,
    "d1_json_envelope" ->
      s"""SELECT event_id,
         |       '{"schema":' || '$envelopeSchemaBlock' || ',"payload":' ||
         |       to_json(struct_pack(event_id := event_id, event_type := event_type)) || '}' AS value
         |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
    "d1b_envelope_schemaless" ->
      """SELECT event_id,
        |       to_json(struct_pack(event_id := event_id, event_type := event_type)) AS value
        |FROM events WHERE event_id < 100 ORDER BY event_id""".stripMargin,
    "d7_topic_consume" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    // decoded-rows identity: the avro trip must reproduce the source rows
    "d8_avro_envelope" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, event_type, value AS val
        |FROM events WHERE event_id < 200 ORDER BY event_id""".stripMargin,
    // the streamed SCD2 state after two micro-batched runs (one
    // re-delivering) must equal the one-shot batch derivation: every
    // event opens a version, lead() on the event_id axis closes it,
    // deletes close but emit no row. Same chain SQL as c9 minus the
    // snapshot seeding (the stream starts from an empty state table).
    "x_scd2_stream" ->
      """WITH ev AS (
        |  SELECT event_id, event_id % 4999 AS rid, user_id,
        |         CAST(round(value * 100) AS BIGINT) AS cents,
        |         CASE WHEN event_type = 'signup' THEN 'INSERT'
        |              WHEN event_type = 'error' THEN 'DELETE'
        |              ELSE 'UPDATE' END AS op
        |  FROM events
        |), chained AS (
        |  SELECT *, lead(event_id) OVER (PARTITION BY rid ORDER BY event_id) AS valid_to_id
        |  FROM ev
        |)
        |SELECT rid, user_id, cents, event_id AS valid_from_id, valid_to_id,
        |       CAST(CASE WHEN valid_to_id IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
        |FROM chained WHERE op <> 'DELETE'
        |ORDER BY rid, valid_from_id""".stripMargin,
    // the watermarked stream-stream range join, drained micro-batch by
    // micro-batch, must equal the plain batch interval join
    "x_interval_join" ->
      """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
        |       epoch_us(l.ts) AS l_ts_us, epoch_us(r.ts) AS r_ts_us
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        | AND l.event_type = 'click' AND r.event_type = 'error'
        | AND r.ts > l.ts - INTERVAL 4 HOUR AND r.ts <= l.ts
        |ORDER BY l.user_id, l_id, r_id""".stripMargin
  )
}
