"""Built-in operators for the container (SURVEY §2.B1-B3, C1-C6).

The reference ships three stub operators — KafkaInput, KafkaOutput,
AddField (``src/iie/SparkStreaming/*.java``) — plus the SQL executor
(``src/sparkSQL/SparkSQLOperator.java``). These are their working
engine counterparts, plus the file-based source/sink used by tests
(no broker in the test environment; Kafka wiring is format config
only and is exercised as a smoke key in ``streaming``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamingdemo_spark.operators.registry import DEFAULT_REGISTRY

register = DEFAULT_REGISTRY.register


@register("parquet_source")
def parquet_source(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Batch file source (plays KafkaInput's role for batch pipelines,
    ``KafkaInput.java:9-23``). params: path, optional columns."""
    df = spark.read.parquet(params["path"])
    if cols := params.get("columns"):
        df = df.select(*cols)
    return {"out": df}


@register("stream_parquet_source")
def stream_parquet_source(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Streaming file source — the schema-tagged stream
    (``DStreamWithSchema``) as a streaming DataFrame. params: path,
    schema (DDL string; required — streaming scans need a fixed schema
    up front)."""
    reader = spark.readStream.schema(params["schema"]).format(
        params.get("format", "parquet")
    )
    if mf := params.get("max_files_per_trigger"):
        reader = reader.option("maxFilesPerTrigger", mf)
    return {"out": reader.load(params["path"])}


# Kafka wire format: JSON-encoded value bytes. The explicit
# microsecond formats matter — to_json's defaults print milliseconds
# only, silently truncating the sub-ms event times a replayed topic
# must preserve (from_json uses the same formats so the round trip is
# exact). Both timestamp flavors are pinned: TIMESTAMP(_LTZ) columns
# serialize with a zone offset, TIMESTAMP_NTZ without — the decode
# schema picks the flavor, so producer and consumer must declare the
# same one (as on a real topic). Shared by source, sink, and loopback
# so the three can never drift apart.
_KAFKA_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _kafka_encode(df: DataFrame) -> DataFrame:
    """Encode rows exactly as ``kafka_sink`` puts them on the wire:
    one binary JSON 'value' column holding all fields."""
    return df.select(
        F.to_json(F.struct(*df.columns), _KAFKA_JSON_OPTS)
        .cast("binary")
        .alias("value")
    )


def _kafka_decode(df: DataFrame, schema: str) -> DataFrame:
    """Decode wire records exactly as ``kafka_source`` does: parse the
    binary 'value' column as JSON against the declared schema."""
    return df.select(
        F.from_json(
            F.col("value").cast("string"), schema, _KAFKA_JSON_OPTS
        ).alias("v")
    ).select("v.*")


@register("kafka_source")
def kafka_source(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Kafka source (B1, ``KafkaInput.java``): subscribe + JSON-decode
    the value column against the declared schema — recovering the
    "WithSchema" part of the reference's stream model. Requires the
    kafka connector package + a broker; wiring is config-only here."""
    df = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", params["bootstrap_servers"])
        .option("subscribe", params["topic"])
        .option("startingOffsets", params.get("starting_offsets", "earliest"))
        .load()
    )
    return {"out": _kafka_decode(df, params["schema"])}


@register("kafka_loopback")
def kafka_loopback(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Broker-less Kafka wire-format round trip: encode the input with
    the sink's exact serialization (``_kafka_encode``) and immediately
    decode with the source's exact parse (``_kafka_decode``). Proves
    the B1/B2 serialization logic — JSON field mapping, double
    round-tripping, microsecond timestamps — end-to-end without a
    broker; a deployment with one swaps this single operator for the
    kafka_sink → kafka_source pair, nothing else changes.
    params: schema (decode schema string)."""
    (df,) = inputs.values()
    return {"out": _kafka_decode(_kafka_encode(df), params["schema"])}


@register("add_field")
def add_field(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """AddField (B3, ``AddField.java:9-23``): 1-in-1-out projection
    extend. params: name, expr (SQL expression string)."""
    (df,) = inputs.values()
    return {"out": df.withColumn(params["name"], F.expr(params["expr"]))}


@register("filter")
def filter_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    (df,) = inputs.values()
    return {"out": df.filter(params["condition"])}


@register("select")
def select_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    (df,) = inputs.values()
    return {"out": df.selectExpr(*params["exprs"])}


@register("sql")
def sql_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """The C1 SQL entry point (``SparkSQLOperator.java:17-19``): run an
    arbitrary SQL statement; each input port is visible as a temp view
    named by its port name."""
    for port, df in inputs.items():
        df.createOrReplaceTempView(port)
    return {"out": spark.sql(params["query"])}


@register("join")
def join_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Equi-join of ports 'left' and 'right' (C3 shape). params: on
    (list of column names or a SQL condition), how, broadcast_right."""
    left, right = inputs["left"], inputs["right"]
    if params.get("broadcast_right"):
        right = F.broadcast(right)
    on = params["on"]
    if isinstance(on, str):
        on = F.expr(on)
    return {"out": left.join(right, on=on, how=params.get("how", "inner"))}


@register("aggregate")
def aggregate_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """groupBy + SQL aggregate expressions. params: group_by (list),
    aggs (list of SQL aggregate expressions with aliases)."""
    (df,) = inputs.values()
    aggs = [F.expr(a) for a in params["aggs"]]
    if group := params.get("group_by"):
        return {"out": df.groupBy(*group).agg(*aggs)}
    return {"out": df.agg(*aggs)}


@register("parquet_sink")
def parquet_sink(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Terminal batch sink (KafkaOutput's role, ``KafkaOutput.java:
    9-22``): writes its input to ``params["path"]`` and returns no
    ports. A verifier reads the written parquet back itself."""
    (df,) = inputs.values()
    df.write.mode(params.get("mode", "overwrite")).parquet(params["path"])
    return {}


@register("kafka_sink")
def kafka_sink(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Kafka sink (B2, ``KafkaOutput.java``): JSON-encode all columns
    into 'value' and write to a topic. Config-only without a broker;
    the serialization itself is broker-independent and hash-proven by
    ``kafka_loopback`` / ``stream_kafka_smoke``."""
    (df,) = inputs.values()
    payload = _kafka_encode(df)
    query = (
        payload.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", params["bootstrap_servers"])
        .option("topic", params["topic"])
        .option("checkpointLocation", params["checkpoint"])
        .start()
    )
    query.awaitTermination(params.get("timeout_sec", 0))
    return {}


@register("query")
def query_op(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Registry-query operator: runs any registered query key as a DAG
    node, making the whole declared surface (relational, streaming,
    LLM-pipeline extensions) available to pipeline specs — the
    container's equivalent of the reference dispatching a mainClass by
    name from its registry (``OpContainerTest.java:124-145``), but
    against the in-process query registry instead of Class.forName.
    params: key (registry query key), sf_dir (fixture directory).

    Takes no inputs by design: registry queries load their own tables
    (that is their driver contract); compose them with downstream
    filter/sql/sink operators via the returned port.
    """
    from streamingdemo_spark.registry import QUERIES

    key = params["key"]
    if key not in QUERIES:
        raise KeyError(
            f"unknown query key {key!r}; known keys come from "
            "streamingdemo_spark.registry.QUERIES"
        )
    return {"out": QUERIES[key](spark, params["sf_dir"])}


@register("anomaly_screen")
def anomaly_screen(
    spark: SparkSession, params: dict, inputs: dict[str, DataFrame]
) -> dict[str, DataFrame]:
    """Stateful trailing-window 3σ screen as a container operator: the
    per-series ring-buffer monitor (``streaming/queries.py:
    apply_anomaly_screen``) wired into the reference's operator-DAG
    authoring model, so a spec can declare source → screen → sink the
    way ``OpContainer`` pipelines do. Works on a streaming events port
    (applyInPandasWithState keeps 24 longs per series)."""
    from streamingdemo_spark.streaming.queries import apply_anomaly_screen

    (df,) = inputs.values()  # any single input port, like sibling ops
    return {"out": apply_anomaly_screen(df)}
