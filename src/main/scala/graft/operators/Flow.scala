package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Grain.Corpus
import graft.Query
import graft.Tables

/** Flow data operators: the reference's visual-flow node vocabulary
  * (packages/protolib/src/bundles/flow/contextV2 and flow/context)
  * re-expressed as set-oriented Spark transforms.
  *
  * Reference semantics:
  *  - map/filter/forEach: contextV2/map.ts, filter.ts, forEach.ts — per-item
  *    JS callbacks over arrays.
  *  - split/join: contextV2/split.ts, join.ts — string↔list conversions.
  *  - switch: contextV2/switch.ts + context/flowSwitch.ts — conditional
  *    routing of a value to one of several outputs.
  *  - inRange: context/flowInRange.ts — numeric range membership.
  *  - edge detector: context/flowEdgeDetector.ts — rising/falling edge over a
  *    stream of values (compares each value to the previously seen one).
  *
  * Row-at-a-time callbacks become whole-stage-codegen projections/filters
  * (map/filter/switch/inRange — zero shuffle, scale-free). split becomes
  * posexplode (parallel per row). The edge detector — stateful in the
  * reference — becomes a lag window per key ordered by time: one shuffle on
  * the key, state never leaves the executor. The streaming twin lives in
  * graft.streaming.StreamOps.edgeDetector.
  */
object Flow {

  /** map: computed projection (contextV2/map.ts). */
  def mapRows(df: DataFrame, outputs: Seq[(String, Column)]): DataFrame =
    df.select(df.columns.map(col) ++ outputs.map { case (n, c) => c.as(n) }: _*)

  /** filter: predicate (contextV2/filter.ts). */
  def filterRows(df: DataFrame, pred: Column): DataFrame = df.filter(pred)

  /** split: string → list, exploded with position (contextV2/split.ts). */
  def splitExplode(df: DataFrame, strCol: String, sep: String,
                   keep: Seq[String]): DataFrame =
    df.select(keep.map(col) :+ posexplode(split(col(strCol), sep)): _*)
      .withColumnRenamed("pos", "pos")
      .withColumnRenamed("col", "token")

  /** join: list → delimited string (contextV2/join.ts). */
  def joinList(df: DataFrame, strCol: String, sep: String, outSep: String,
               as: String): DataFrame =
    df.withColumn(as, array_join(split(col(strCol), sep), outSep))

  /** switch: multi-way conditional routing (contextV2/switch.ts). Routes a
    * value column to a named output — as data, a CASE label per row.
    */
  def switchRoute(df: DataFrame, on: String, routes: Seq[(Column, String)],
                  default: String, as: String): DataFrame = {
    val c = routes.tail.foldLeft(when(routes.head._1, lit(routes.head._2))) {
      case (acc, (p, r)) => acc.when(p, lit(r))
    }.otherwise(lit(default))
    df.withColumn(as, c)
  }

  /** inRange: lo <= v <= hi flag (context/flowInRange.ts). */
  def inRange(df: DataFrame, v: String, lo: Double, hi: Double, as: String): DataFrame =
    df.withColumn(as, col(v) >= lo && col(v) <= hi)

  /** edge detector (context/flowEdgeDetector.ts handles BOTH edges): rising
    * = previous value below threshold, current at-or-above; falling = the
    * mirror. Per key, time-ordered; shuffles once on the key; lag state
    * stays inside each partition. Streaming twin:
    * graft.streaming.StreamOps.edgeDetector.
    */
  def edges(df: DataFrame, key: String, ts: String, tiebreak: String,
            v: String, threshold: Double): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    val prev = lag(col(v), 1).over(w)
    df.withColumn("rising", when(prev.isNull, lit(false))
        .otherwise(prev < threshold && col(v) >= threshold))
      .withColumn("falling", when(prev.isNull, lit(false))
        .otherwise(prev >= threshold && col(v) < threshold))
  }

  /** risingEdge kept for the batch/streaming oracle pairing. */
  def risingEdge(df: DataFrame, key: String, ts: String, tiebreak: String,
                 v: String, threshold: Double, as: String): DataFrame =
    edges(df, key, ts, tiebreak, v, threshold)
      .withColumnRenamed("rising", as).drop("falling")

  /** push (contextV2/push.ts): append an element to an array. */
  def push(df: DataFrame, arr: Column, elem: Column, as: String): DataFrame =
    df.withColumn(as, array_append(arr, elem))

  /** addObjectKey (contextV2/addObjectKey.ts): add a field to a struct. */
  def addObjectKey(df: DataFrame, structCol: String, key: String, value: Column): DataFrame =
    df.withColumn(structCol, col(structCol).withField(key, value))

  /** toJson (contextV2/toJson.ts): object -> JSON string. */
  def toJsonStr(df: DataFrame, cols: Seq[String], as: String): DataFrame =
    df.withColumn(as, to_json(struct(cols.map(col): _*)))

  /** jsonParse (contextV2/jsonParse.ts): JSON string -> typed fields. */
  def jsonParse(df: DataFrame, jsonCol: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    df.withColumn("_p", from_json(col(jsonCol), schema))
      .select(df.columns.map(col) ++
        schema.fields.map(f => col(s"_p.${f.name}").as(f.name)): _*)

  /** forEach (contextV2/forEach.ts): per-element transform of an array. */
  def forEachElem(df: DataFrame, arr: Column, f: Column => Column, as: String): DataFrame =
    df.withColumn(as, transform(arr, f))

  /** rewire (contextV2/rewire.ts): remap output column names. */
  def rewire(df: DataFrame, renames: Map[String, String]): DataFrame =
    df.select(df.columns.map(c => col(c).as(renames.getOrElse(c, c))): _*)

  // ---------------------------------------------------------------- queries

  val registry: Seq[Query] = Seq(
    Query("flow_map", Corpus,
      """SELECT event_id, event_type, value, round(value * 2, 2) AS value_x2, upper(event_type) AS kind FROM events ORDER BY event_id""",
      (s, d) =>
        mapRows(Tables.events(s, d).select("event_id", "event_type", "value"),
          Seq("value_x2" -> round(col("value") * 2, 2),
              "kind" -> upper(col("event_type"))))
          .orderBy("event_id")),

    Query("flow_filter", Corpus,
      """SELECT event_id, user_id, event_type, value FROM events WHERE event_type = 'purchase' AND value > 50.0 ORDER BY event_id""",
      (s, d) =>
        filterRows(Tables.events(s, d).select("event_id", "user_id", "event_type", "value"),
          col("event_type") === "purchase" && col("value") > 50.0)
          .orderBy("event_id")),

    Query("flow_split", Corpus,
      """SELECT doc_id, unnest(range(0, len(string_split(text, ' ')))) AS pos, unnest(string_split(text, ' ')) AS token FROM documents WHERE doc_id < 100 ORDER BY doc_id, pos""",
      (s, d) =>
        splitExplode(Tables.documents(s, d).filter(col("doc_id") < 100),
          "text", " ", Seq("doc_id"))
          .orderBy("doc_id", "pos")),

    Query("flow_join", Corpus,
      """SELECT doc_id, array_to_string(string_split(text, ' '), '|') AS joined FROM documents ORDER BY doc_id""",
      (s, d) =>
        joinList(Tables.documents(s, d).select("doc_id", "text"), "text", " ", "|", "joined")
          .select("doc_id", "joined")
          .orderBy("doc_id")),

    Query("flow_switch", Corpus,
      """SELECT event_id, event_type, value, CASE WHEN event_type = 'error' THEN 'alerts' WHEN event_type = 'purchase' AND value > 100.0 THEN 'billing-large' WHEN event_type = 'purchase' THEN 'billing' ELSE 'activity' END AS route FROM events ORDER BY event_id""",
      (s, d) =>
        switchRoute(Tables.events(s, d).select("event_id", "event_type", "value"),
          on = "event_type",
          routes = Seq(
            (col("event_type") === "error") -> "alerts",
            (col("event_type") === "purchase" && col("value") > 100.0) -> "billing-large",
            (col("event_type") === "purchase") -> "billing"),
          default = "activity", as = "route")
          .orderBy("event_id")),

    Query("flow_in_range", Corpus,
      """SELECT event_id, value, value >= 10.0 AND value <= 100.0 AS in_range FROM events ORDER BY event_id""",
      (s, d) =>
        inRange(Tables.events(s, d).select("event_id", "value"), "value", 10.0, 100.0, "in_range")
          .orderBy("event_id")),

    Query("flow_edge_detector", Corpus,
      """SELECT event_id, user_id, value, CASE WHEN prev IS NULL THEN false ELSE prev < 100.0 AND value >= 100.0 END AS rising, CASE WHEN prev IS NULL THEN false ELSE prev >= 100.0 AND value < 100.0 END AS falling FROM (SELECT event_id, user_id, value, lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events) ORDER BY event_id""",
      (s, d) =>
        edges(Tables.events(s, d).select("event_id", "user_id", "ts", "value"),
          key = "user_id", ts = "ts", tiebreak = "event_id", v = "value",
          threshold = 100.0)
          .select("event_id", "user_id", "value", "rising", "falling")
          .orderBy("event_id")),

    Query("flow_push", Corpus,
      """SELECT doc_id, array_to_string(list_append(string_split(text, ' ')[1:3], 'EOS'), '|') AS pushed FROM documents ORDER BY doc_id""",
      (s, d) =>
        push(Tables.documents(s, d).select("doc_id", "text"),
          slice(split(col("text"), " "), 1, 3), lit("EOS"), "pushed")
          .select(col("doc_id"), array_join(col("pushed"), "|").as("pushed"))
          .orderBy("doc_id")),

    Query("flow_add_object_key", Corpus,
      """SELECT event_id, event_type, value, value > 50.0 AS large FROM events ORDER BY event_id""",
      (s, d) =>
        addObjectKey(
          Tables.events(s, d).select(col("event_id"),
            struct(col("event_type"), col("value")).as("obj")),
          "obj", "large", col("obj.value") > 50.0)
          .select(col("event_id"), col("obj.event_type").as("event_type"),
            col("obj.value").as("value"), col("obj.large").as("large"))
          .orderBy("event_id")),

    Query("flow_to_json", Corpus,
      """SELECT event_id, to_json(struct_pack(event_id := event_id, event_type := event_type, value := value))::VARCHAR AS js FROM events ORDER BY event_id""",
      (s, d) =>
        toJsonStr(Tables.events(s, d).select("event_id", "event_type", "value"),
          Seq("event_id", "event_type", "value"), "js")
          .select("event_id", "js")
          .orderBy("event_id")),

    Query("flow_json_parse", Corpus,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 AS k2 FROM events ORDER BY event_id""",
      (s, d) =>
        jsonParse(Tables.events(s, d).select("event_id", "props"), "props",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType))))
          .select(col("event_id"), col("k"), (col("k") * 2).as("k2"))
          .orderBy("event_id")),

    Query("flow_foreach", Corpus,
      """SELECT doc_id, array_to_string(list_transform(string_split(text, ' ')[1:5], t -> upper(t)), ' ') AS upped FROM documents ORDER BY doc_id""",
      (s, d) =>
        forEachElem(Tables.documents(s, d).select("doc_id", "text"),
          slice(split(col("text"), " "), 1, 5), t => upper(t), "upped")
          .select(col("doc_id"), array_join(col("upped"), " ").as("upped"))
          .orderBy("doc_id")),

    Query("flow_rewire", Corpus,
      """SELECT event_id, user_id AS actor, value AS metric FROM events ORDER BY event_id""",
      (s, d) =>
        rewire(Tables.events(s, d).select("event_id", "user_id", "value"),
          Map("user_id" -> "actor", "value" -> "metric"))
          .orderBy("event_id"))
  )
}
