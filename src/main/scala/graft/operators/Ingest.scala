package graft.operators

import graft.{GQuery, Tables}
import graft.functions.FlatJsonParse
import java.io.IOException
import java.util.UUID
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftinternal.GraftDataset
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Reference-parity ingest pipeline, re-expressed Spark-first.
  *
  * The reference (`/root/reference`, see SURVEY.md §0) is a batch
  * Kafka→HDFS job whose net semantics are: parse each record's JSON into a
  * fixed `{id: Long, msg: String}` schema leniently
  * (`MyKafkaMessage.java:6-12` — missing fields default to `0L`/`""`,
  * malformed JSON is dropped, `HadoopKafkaConsumer.java:58-61`), keep the
  * record with the highest Kafka offset per id
  * (`HadoopKafkaConsumer.java:55-90`, latest-wins), and overwrite an HDFS
  * directory with the surviving rows as JSON lines
  * (`HadoopKafkaConsumer.java:92-101,139-148`).
  *
  * Here that becomes a declarative DataFrame pipeline:
  * one parse per record — one compiled expression with three tiers: a
  * byte scanner and a Jackson kernel for the flat records they are sure
  * of, and `from_json`'s evaluator for every record they decline
  * (malformed = skip-bad-records, or a dead-letter slice) →
  * `groupBy(key)` + `max_by(struct(payload), version)` (one shuffle
  * between a partial and a final sort aggregate — unlike the reference's
  * per-reducer in-heap HashMap, the sort can spill) →
  * `to_json` → a sink that publishes the snapshot through a temp
  * directory and a rename, so a failed write keeps the old one.
  *
  * The `events` testdata table is the Kafka-topic analog
  * (`event_id` ↔ offset/version, `user_id` ↔ message id, `props` ↔ JSON
  * payload — FIXTURES.md §B).
  */
object Ingest {

  /** Reference message schema (`MyKafkaMessage.java:6-7`). */
  val msgSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("msg", StringType)))

  /** Name of the boolean column [[parseTagged]] adds: true when the
    * record's JSON parsed, false when it is malformed.
    */
  val ParsedOk = "__parsed_ok"

  /** The one parse step under [[parseLenient]] and [[parseWithDlq]]:
    * `df` plus the parsed struct `__j` (the schema's fields, `null` when
    * absent) and [[ParsedOk]]. No row is dropped.
    *
    * The parse is one expression, [[graft.functions.FlatJsonParse]],
    * with three tiers: a byte scanner takes flat objects of ASCII bytes,
    * a Jackson kernel takes the other flat records it is sure of, and
    * `from_json`'s own evaluator answers every record both decline (in
    * the benchmark's log, the malformed 1%). So `from_json` stays the
    * single definition of the semantics, and with no `CodegenFallback`
    * in the expression the parse compiles into whole-stage code.
    *
    * The parse is evaluated once per record. It sits inside a
    * one-element `inline(array(struct(...)))` — a Generate node — which
    * the optimizer cannot push a filter on `__j` through, nor collapse
    * into the projection above it. Without that barrier a filter on the
    * parsed struct is pushed below the projection with the parse alias
    * copied into it, and each record is parsed once per reference
    * (three times in the lenient path). Works on batch and streaming
    * frames.
    */
  def parseTagged(df: DataFrame, jsonCol: String, schema: StructType): DataFrame = {
    // from_json in PERMISSIVE mode yields an all-null row (not a null
    // struct) on malformed input, so null-struct checks can't detect it;
    // a corrupt-record sentinel column can.
    val j = GraftDataset.column(FlatJsonParse(GraftDataset.expr(col(jsonCol)), schema,
      Some(FlatJsonParse.fromJson(df.sparkSession, schema))))
    df.select(df.columns.toIndexedSeq.map(col) :+ inline(array(struct(j.as("__j")))): _*)
      .withColumn(ParsedOk, col("__j").isNotNull && col(s"__j.${FlatJsonParse.Corrupt}").isNull)
  }

  /** Lenient fixed-schema JSON parse: malformed rows dropped (reference
    * skip-bad-records), missing fields defaulted (`MyKafkaMessage.java:9-12`).
    * Tag ([[parseTagged]]), then [[keepParsed]].
    *
    * `defaults` maps field name → default literal; fields absent from the
    * map pass through as-is (nullable).
    */
  def parseLenient(
      df: DataFrame,
      jsonCol: String,
      schema: StructType,
      defaults: Map[String, Column]): DataFrame =
    keepParsed(parseTagged(df, jsonCol, schema), jsonCol, schema, defaults)

  /** The lenient tail over [[parseTagged]]'s rows: filter out malformed
    * records, then apply `defaults`. Output: the tagged frame's source
    * columns minus `jsonCol`, then the schema's fields. Callers that count
    * the tagged rows (`Dataset.observe`) put the observation between the
    * two steps.
    */
  def keepParsed(
      tagged: DataFrame,
      jsonCol: String,
      schema: StructType,
      defaults: Map[String, Column]): DataFrame = {
    val fields = schema.fields.map { f =>
      defaults.get(f.name)
        .map(d => coalesce(col(s"__j.${f.name}"), d).as(f.name))
        .getOrElse(col(s"__j.${f.name}").as(f.name))
    }
    val source = tagged.columns.filterNot(Set(jsonCol, "__j", ParsedOk))
    tagged.where(col(ParsedOk))
      .select(source.toIndexedSeq.map(col) ++ fields: _*)
  }

  /** Dead-letter split: parse like [[parseLenient]] but KEEP malformed
    * rows, tagged `disposition = 'corrupt'` with their raw payload intact
    * (parsed fields null), instead of silently dropping them. The
    * reference discards undecodable records with no trace
    * (`MyKafkaMessage.java:9-12` lenient Gson + the consumer's
    * keep-if-parsed loop); a production feed needs the drop COUNTED and
    * the payloads QUARANTINED for replay after the producer bug is fixed.
    * Map-only: the same one-parse [[parseTagged]] step, no shuffle —
    * route the 'corrupt' slice to a quarantine sink and the 'ok' slice
    * onward.
    */
  def parseWithDlq(df: DataFrame, jsonCol: String, schema: StructType): DataFrame = {
    val fields = schema.fields.map(f => col(s"__j.${f.name}").as(f.name))
    parseTagged(df, jsonCol, schema).select(
      df.columns.toIndexedSeq.map(col) ++
        (when(col(ParsedOk), lit("ok")).otherwise(lit("corrupt")).as("disposition")
          +: fields.toIndexedSeq): _*)
  }

  /** Latest-wins dedup: keep, per `keys`, the row with the maximal
    * `version` columns (compared lexicographically — pass a unique
    * trailing tiebreak column for determinism when the primary version
    * can tie; the reference's Kafka offset is unique per partition so it
    * never ties there, `HadoopKafkaConsumer.java:69-78`).
    *
    * One shuffle on `keys`, with a map-side partial `max_by` combine:
    * the plan is `SortAggregate` → `Exchange` → `Sort` → `SortAggregate`.
    * `max_by`'s buffer holds a struct, which is not fixed-width, so Spark
    * cannot use a hash aggregate here; each side sorts its rows by key
    * instead. There is no window and no second shuffle, and skewed keys
    * are handled by the partial aggregation (a hot key reduces to one
    * row per map task before the exchange).
    */
  def latestWins(df: DataFrame, keys: Seq[String], version: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.toIndexedSeq.map(col): _*), struct(version.map(col): _*)).as("__latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"__latest.`$c`").as(c)): _*)
  }

  /** Latest-wins with KAFKA TOMBSTONE semantics: a record whose
    * `payloadCol` is NULL deletes its key — the upsert-stream contract
    * of a compacted Kafka topic (null value ⇒ tombstone). Same single
    * aggregate as [[latestWins]]; the tombstone check is one
    * filter on the winning row AFTER the aggregate, so deletes cost no
    * extra shuffle and a delete→re-insert sequence resolves by version
    * order like any other pair of records. (Kafka's cleaner keeps
    * tombstones visible for `delete.retention.ms` before dropping them
    * so slow consumers still see the delete; a SNAPSHOT — which is what
    * this computes — is exactly the post-retention state.)
    */
  def latestWinsWithTombstones(df: DataFrame, keys: Seq[String],
      version: Seq[String], payloadCol: String): DataFrame =
    latestWins(df, keys, version).where(col(payloadCol).isNotNull)

  /** Reference sink: replace the output directory with one JSON object
    * per line (`HadoopKafkaConsumer.java:92-101,139-148`).
    *
    * The reference deletes the old snapshot and then writes the new one,
    * so a failed write leaves nothing. Here the rows go to a sibling
    * `<path>.tmp-<uuid>` first; only after that write succeeds is the
    * snapshot swapped in with two Hadoop `FileSystem` renames (old
    * directory to `<path>.old-<uuid>`, temp directory to `path`), and the
    * old directory deleted. A failed write deletes the temp directory and
    * leaves the previous snapshot untouched. Between the two renames there
    * is a short window in which `path` does not exist; a reader that lands
    * in it sees a missing snapshot, never a partial one. If the second
    * rename fails, the old directory is renamed back.
    */
  def writeSnapshotJson(df: DataFrame, path: String): Unit = {
    val fs = new Path(path).getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val dest = fs.makeQualified(new Path(path))
    def sibling(tag: String) = new Path(dest.getParent, s"${dest.getName}.$tag-${UUID.randomUUID()}")
    val tmp = sibling("tmp")
    try df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))
      .write.text(tmp.toString)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    val old = if (fs.exists(dest)) Some(sibling("old")) else None
    old.foreach { o =>
      if (!fs.rename(dest, o)) {
        fs.delete(tmp, true)
        throw new IOException(s"could not move the previous snapshot $dest aside")
      }
    }
    if (!fs.rename(tmp, dest)) {
      old.foreach(fs.rename(_, dest))
      fs.delete(tmp, true)
      throw new IOException(s"could not publish the snapshot at $dest")
    }
    old.foreach(fs.delete(_, true))
  }

  // ---------------------------------------------------------------- queries

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")

  val all: Seq[GQuery] = Seq(
    GQuery(
      "ingest_latest_global",
      (s, dir) => {
        // Latest event per user_id — the reference dedup (#7 in SURVEY §2A)
        // with the principled global key scope.
        latestWins(
          events(s, dir).select("user_id", "event_id", "event_type", "value", "props"),
          keys = Seq("user_id"), version = Seq("event_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |       arg_max(event_id, event_id)   AS event_id,
             |       arg_max(event_type, event_id) AS event_type,
             |       arg_max(value, event_id)      AS value,
             |       arg_max(props, event_id)      AS props
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),
      bench = true),

    GQuery(
      "ingest_latest_scoped",
      (s, dir) => {
        // Composite-scope dedup — parity with the reference's
        // per-(partition, id) scope (`KafkaContext.java:103`): latest
        // event per (user_id, event_type).
        latestWins(
          events(s, dir).select("user_id", "event_type", "event_id", "value"),
          keys = Seq("user_id", "event_type"), version = Seq("event_id"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type,
             |       arg_max(event_id, event_id) AS event_id,
             |       arg_max(value, event_id)    AS value
             |FROM events GROUP BY user_id, event_type
             |ORDER BY user_id, event_type""".stripMargin)),

    GQuery(
      "ingest_latest_tombstone",
      (s, dir) => {
        // TOMBSTONE-AWARE snapshot (compacted-topic contract): 'error'
        // events stand in for null-value tombstones — a user whose
        // LATEST record is a tombstone is ABSENT from the snapshot,
        // while a tombstone overtaken by a later upsert leaves the user
        // present with the later state. Oracle computes the same argmax
        // then filters the winners, so a snapshot that drops too many
        // keys (filtering before the argmax) or too few (ignoring
        // tombstones) fails the hash.
        val e = events(s, dir).select(col("user_id"), col("event_id"),
          when(col("event_type") === "error", lit(null).cast("string"))
            .otherwise(col("event_type")).as("state"))
        latestWinsWithTombstones(e, keys = Seq("user_id"),
          version = Seq("event_id"), payloadCol = "state")
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |       arg_max(event_id, event_id) AS event_id,
             |       arg_max(event_type, event_id) AS state
             |FROM events GROUP BY user_id
             |HAVING arg_max(event_type, event_id) <> 'error'
             |ORDER BY user_id""".stripMargin)),

    GQuery(
      "ingest_json_parse",
      (s, dir) => {
        // Lenient fixed-schema JSON parse of the payload column — the
        // reference's Gson parse (#5, `KafkaContext.java:105-119`) with
        // missing-field defaulting.
        parseLenient(
          events(s, dir).select("event_id", "props"),
          jsonCol = "props",
          schema = StructType(Seq(StructField("k", LongType))),
          defaults = Map("k" -> lit(0L)))
          .orderBy("event_id")
      },
      Some("""SELECT event_id,
             |       coalesce(CAST(json_extract_string(props, '$.k') AS BIGINT), 0) AS k
             |FROM events ORDER BY event_id""".stripMargin)),

    GQuery(
      "ingest_dlq_split",
      (s, dir) => {
        // DEAD-LETTER split differential: corruption is PLANTED
        // deterministically (a truncated JSON on event_id % 97, a
        // non-JSON payload on % 89), the Spark side detects it with the
        // real parser ([[parseWithDlq]]'s corrupt-record sentinel), and
        // the oracle asserts the planted ground truth — the hash match
        // proves the detector finds exactly the planted set, loses no ok
        // row, and parses ok payloads correctly (id_sum re-derives from
        // the construction). Per-disposition distinct payload counts
        // stand in for the quarantine's content.
        val e = col("event_id")
        val value = when(e % 97 === 0,
            concat(lit("{\"id\":"), col("user_id"), lit(",\"ms")))
          .when(e % 89 === 0, concat(lit("garbage#"), e))
          .otherwise(to_json(struct(col("user_id").as("id"),
            col("event_type").as("msg"))))
        parseWithDlq(
          events(s, dir).select(e.as("event_id"), value.as("value")),
          jsonCol = "value", schema = msgSchema)
          .groupBy("disposition")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("value")).as("n_payloads"),
            sum(coalesce(col("id"), lit(0L))).as("id_sum"))
          .orderBy("disposition")
      },
      Some("""WITH v AS (
             |  SELECT event_id, user_id,
             |    CASE WHEN event_id % 97 = 0 THEN '{"id":' || user_id || ',"ms'
             |         WHEN event_id % 89 = 0 THEN 'garbage#' || event_id
             |         ELSE '{"id":' || user_id || ',"msg":"' || event_type || '"}'
             |    END AS value,
             |    CASE WHEN event_id % 97 = 0 OR event_id % 89 = 0
             |         THEN 'corrupt' ELSE 'ok' END AS disposition
             |  FROM events)
             |SELECT disposition,
             |       CAST(COUNT(*) AS BIGINT) AS n_rows,
             |       CAST(COUNT(DISTINCT value) AS BIGINT) AS n_payloads,
             |       CAST(SUM(CASE WHEN disposition = 'ok' THEN user_id ELSE 0 END) AS BIGINT) AS id_sum
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

    GQuery(
      "ingest_snapshot",
      (s, dir) => {
        // End-to-end reference pipeline: parse → latest-wins per id →
        // JSON-lines snapshot rows ({"id":…,"msg":…} like
        // `MyKafkaMessage` re-serialized, `HadoopKafkaConsumer.java:96-97`).
        val latest = latestWins(
          events(s, dir)
            .select(col("user_id").as("id"), col("event_type").as("msg"), col("event_id")),
          keys = Seq("id"), version = Seq("event_id"))
        latest
          .select(col("id"), to_json(struct(col("id"), col("msg"))).as("json"))
          .orderBy("id")
      },
      Some("""SELECT user_id AS id,
             |       '{"id":' || user_id || ',"msg":"' || arg_max(event_type, event_id) || '"}' AS json
             |FROM events GROUP BY user_id ORDER BY id""".stripMargin)),

    GQuery(
      "ingest_incremental_merge",
      (s, dir) => {
        // The scalable alternative to the reference's full re-read
        // (`KafkaContext.java:57-59` seeks to offset 0 every run):
        // maintain yesterday's SNAPSHOT (one row per key) and fold only
        // the DELTA of new offsets into it. latestWins(snapshot ∪ delta)
        // must equal latestWins(everything) — checked against the same
        // arg_max oracle. At 100 TB the merge input is |keys| + |delta|
        // rows, not |history|.
        val ev = events(s, dir)
          .select("user_id", "event_id", "event_type", "value", "props")
        val cut = ev.agg((((min("event_id") + max("event_id")) / 2).cast("long")).as("cut"))
        val withCut = ev.crossJoin(broadcast(cut))
        val snapshot = latestWins(
          withCut.where(col("event_id") <= col("cut")).drop("cut"),
          keys = Seq("user_id"), version = Seq("event_id"))
        val delta = withCut.where(col("event_id") > col("cut")).drop("cut")
        latestWins(snapshot.unionByName(delta),
          keys = Seq("user_id"), version = Seq("event_id"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
             |       arg_max(event_id, event_id)   AS event_id,
             |       arg_max(event_type, event_id) AS event_type,
             |       arg_max(value, event_id)      AS value,
             |       arg_max(props, event_id)      AS props
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    GQuery(
      "ingest_scd2",
      (s, dir) => {
        // SCD TYPE 2: turn the latest-wins event stream into validity
        // INTERVALS — every change of a user's event_type opens a
        // version row [eff_from, eff_to) keyed by event_id, the open
        // row having eff_to NULL. This is the warehouse-history form of
        // the reference's snapshot (keep ALL versions with validity,
        // not just the latest). One window partition per user: change
        // detection via lag, interval close via lead — single shuffle.
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val ev = events(s, dir).select(col("user_id"), col("ts"),
          col("event_id"), col("event_type"))
        val changes = ev
          .withColumn("prev", lag("event_type", 1).over(w))
          .where(col("prev").isNull || col("prev") =!= col("event_type"))
        val w2 = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        changes
          .withColumn("eff_to", lead("event_id", 1).over(w2))
          .select(col("user_id"), col("event_type"),
            col("event_id").as("eff_from"), col("eff_to"))
          .orderBy("user_id", "eff_from")
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
             |                  lag(event_type) OVER (PARTITION BY user_id
             |                     ORDER BY ts, event_id) AS prev
             |           FROM events),
             |     c AS (SELECT user_id, ts, event_id, event_type FROM o
             |           WHERE prev IS NULL OR prev <> event_type)
             |SELECT user_id, event_type, event_id AS eff_from,
             |       lead(event_id) OVER (PARTITION BY user_id
             |          ORDER BY ts, event_id) AS eff_to
             |FROM c ORDER BY user_id, eff_from""".stripMargin)),

    GQuery(
      "ingest_merge_classify",
      (s, dir) => {
        // MERGE-INTO classification (the CDC audit view): fold the delta
        // onto the snapshot as in ingest_incremental_merge, but REPORT
        // what the merge did per key — insert (new key), update (key
        // present, latest event_type changed), touch (key present,
        // newer version, same value). One full-outer join of two
        // latest-wins aggregates; at 100 TB both sides are |keys|-sized,
        // not |history|-sized, and the join shuffles on the key once.
        val ev = events(s, dir).select("user_id", "event_id", "event_type")
        val cut = ev.agg((((min("event_id") + max("event_id")) / 2).cast("long")).as("cut"))
        val withCut = ev.crossJoin(broadcast(cut))
        val snap = latestWins(
            withCut.where(col("event_id") <= col("cut")).drop("cut"),
            keys = Seq("user_id"), version = Seq("event_id"))
          .select(col("user_id"), col("event_type").as("old_type"))
        val delta = latestWins(
            withCut.where(col("event_id") > col("cut")).drop("cut"),
            keys = Seq("user_id"), version = Seq("event_id"))
          .select(col("user_id"), col("event_type").as("new_type"))
        delta.join(snap, Seq("user_id"), "left")
          .select(when(col("old_type").isNull, "insert")
            .when(col("old_type") =!= col("new_type"), "update")
            .otherwise("touch").as("action"))
          .groupBy("action").agg(count(lit(1)).as("n_keys"))
          .orderBy("action")
      },
      Some("""WITH cut AS (SELECT ((min(event_id) + max(event_id)) // 2) AS c FROM events),
             |     snap AS (SELECT user_id, arg_max(event_type, event_id) AS old_type
             |              FROM events, cut WHERE event_id <= c GROUP BY user_id),
             |     delta AS (SELECT user_id, arg_max(event_type, event_id) AS new_type
             |               FROM events, cut WHERE event_id > c GROUP BY user_id)
             |SELECT CASE WHEN old_type IS NULL THEN 'insert'
             |            WHEN old_type <> new_type THEN 'update'
             |            ELSE 'touch' END AS action,
             |       count(*)::BIGINT AS n_keys
             |FROM delta LEFT JOIN snap USING (user_id)
             |GROUP BY action ORDER BY action""".stripMargin))
  )
}
