"""CloudWatch-Logs-over-Kinesis envelope ingest, Spark-first.

The reference's entire dataflow (kinesis_logs_reader.py:79-104) is:

    poll shard -> gunzip Data -> json parse -> drop CONTROL_MESSAGE
    -> flatten logEvents -> project extractedFields

Here that is one declarative DataFrame chain over either a batch or a
streaming source of raw gzipped-JSON blobs:

    file replay: text source, wholetext (gunzip in the JVM, R5)
                 -> validate_utf8
    byte column: gunzip_text (pandas UDF, R5)
    -> from_json(envelope), once per blob (R6)
    -> explode(when(messageType == 'DATA_MESSAGE', logEvents))
       (R7 + R8, kinesis_logs_reader.py:91-94)
    -> select extractedFields (R9, kinesis_logs_reader.py:95)
    -> optional cast to the typed VPC-flow-log schema (README.md:31-35)

A control message explodes to no rows, so the reference's hand-ordered
"drop before flatten" (kinesis_logs_reader.py:91-92) reads the same
parsed envelope as the flatten.

Sources:
- hermetic tests/CI: a directory of ``*.gz`` files, one blob per file,
  read with no Python worker; or any DataFrame with a binary ``data``
  column. One file <-> one Kinesis record; directories-per-shard
  replays shard interleaving.
- production: Spark's Kinesis connector (e.g. spark-sql-kinesis-asl)
  yields the same ``data: binary`` column; ``read_cwl_stream`` accepts
  its options pass-through. One Kinesis shard maps to one input
  partition, mirroring the reference's shard model
  (kinesis_logs_reader.py:61-66).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kinesis_logs_reader_spark.functions.gzip_udfs import gunzip_text, gunzip_text_safe

# Envelope of a CWL subscription record (kinesis_logs_reader.py:91-95;
# fixture builder tests/test_kinesis_logs_reader.py:35-45).
ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("messageType", T.StringType()),
        T.StructField("owner", T.StringType()),
        T.StructField("logGroup", T.StringType()),
        T.StructField("logStream", T.StringType()),
        T.StructField("subscriptionFilters", T.ArrayType(T.StringType())),
        T.StructField(
            "logEvents",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.StringType()),
                        T.StructField("timestamp", T.LongType()),
                        T.StructField("message", T.StringType()),
                        T.StructField(
                            "extractedFields",
                            T.MapType(T.StringType(), T.StringType()),
                        ),
                    ]
                )
            ),
        ),
    ]
)

# Typed VPC Flow Logs schema (reference README.md:31-35; SURVEY.md §2.3).
FLOW_LOG_FIELDS: list[tuple[str, str]] = [
    ("version", "int"),
    ("account_id", "string"),
    ("interface_id", "string"),
    ("srcaddr", "string"),
    ("dstaddr", "string"),
    ("srcport", "int"),
    ("dstport", "int"),
    ("protocol", "int"),
    ("packets", "bigint"),
    ("bytes", "bigint"),
    ("start", "bigint"),
    ("end", "bigint"),
    ("action", "string"),
    ("log_status", "string"),
]


def parse_envelope(df: DataFrame, text: Column) -> DataFrame:
    """Envelope JSON text column -> one row per log event (map column).

    R6-R9 of the reference pipeline with one ``from_json`` per blob:
    the envelope is parsed once into ``e``, and the explode reads both
    ``messageType`` and ``logEvents`` from it. A CONTROL_MESSAGE, a null
    envelope (malformed JSON, or a blob the permissive decode nulled)
    and a null or empty ``logEvents`` all explode to no rows.
    """
    envelope = F.col("e")
    return (
        df.select(F.from_json(text, ENVELOPE_SCHEMA).alias("e"))
        # R7 + R8: drop control messages (kinesis_logs_reader.py:91-92)
        # and flatten (:94)
        .select(
            F.explode(
                F.when(envelope.messageType == "DATA_MESSAGE", envelope.logEvents)
            ).alias("event")
        )
        # R9: project the logical row (kinesis_logs_reader.py:95)
        .select(F.col("event.extractedFields").alias("fields"))
    )


def decode_envelope(
    raw: DataFrame, data_col: str = "data", mode: str = "strict"
) -> DataFrame:
    """gzipped-JSON byte column -> one row per log event (map column).

    The byte-column path: the Kinesis connector's ``data`` column and
    the boto3 drain. Works on both batch and streaming DataFrames.

    ``mode``:
    - ``strict`` (reference semantics — its package has no try/except):
      corrupt gzip or invalid UTF-8 fails the task;
    - ``permissive``: such a blob decodes to null and yields no rows
      (malformed JSON is already null under from_json's default
      PERMISSIVE mode).
    """
    gunzip = gunzip_text_safe if mode == "permissive" else gunzip_text
    return parse_envelope(raw, gunzip(F.col(data_col)))


def typed_flow_logs(events: DataFrame, fields: list[tuple[str, str]] | None = None) -> DataFrame:
    """Pivot the dynamic ``fields`` map into typed columns.

    The reference leaves values untyped (str/int mix,
    tests/test_kinesis_logs_reader.py:48-55); the engine adds real
    typing via explicit casts so downstream relational operators get
    pushdown-able, codegen-friendly columns.
    """
    fields = fields or FLOW_LOG_FIELDS
    cols: list[Column] = [
        F.col("fields").getItem(name).cast(dtype).alias(name) for name, dtype in fields
    ]
    return events.select(*cols)


def _replay_events(reader, path: str, mode: str) -> DataFrame:
    """A directory of ``*.gz`` blobs -> one row per log event.

    ``reader`` is a batch or streaming reader. The ``text`` source with
    ``wholetext`` yields each file as one row, gunzipped in the JVM by
    Hadoop's GzipCodec (picked by the ``.gz`` extension), so no Python
    worker runs. Strict mode fails on a corrupt blob with an error that
    names the file, and on invalid UTF-8; permissive mode skips corrupt
    files (``ignoreCorruptFiles``) and nulls invalid UTF-8.
    """
    permissive = mode == "permissive"
    reader = (
        reader.format("text")
        .option("wholetext", "true")
        .option("pathGlobFilter", "*.gz")
        .option("recursiveFileLookup", "true")
        .option("ignoreCorruptFiles", str(permissive).lower())
    )
    check_utf8 = F.try_validate_utf8 if permissive else F.validate_utf8
    return parse_envelope(reader.load(path), check_utf8("value"))


def read_cwl_batch(
    spark: SparkSession,
    path: str,
    typed: bool = True,
    fields: list[tuple[str, str]] | None = None,
    mode: str = "strict",
    start_time=None,
) -> DataFrame:
    """Batch-replay a directory of ``*.gz`` envelope blobs (t1 fixtures).

    ``start_time`` (datetime) maps the reference's AT_TIMESTAMP iterator
    (kinesis_logs_reader.py:68-77) onto file replay: only blobs whose
    mtime is after it are read (``modifiedAfter`` — pruned at
    file-listing time, the batch analog of a positioned shard open).
    """
    reader = spark.read
    if start_time is not None:
        reader = reader.option(
            "modifiedAfter", start_time.strftime("%Y-%m-%dT%H:%M:%S")
        )
    events = _replay_events(reader, path, mode)
    return typed_flow_logs(events, fields) if typed else events


def read_cwl_stream(
    spark: SparkSession,
    path: str | None = None,
    *,
    kinesis_options: dict[str, str] | None = None,
    typed: bool = True,
    fields: list[tuple[str, str]] | None = None,
    max_files_per_trigger: int | None = None,
    mode: str = "strict",
) -> DataFrame:
    """Streaming CWL ingest.

    - ``path``: hermetic file-stream replay (one ``.gz`` blob per file).
      ``Trigger.AvailableNow`` at the sink reproduces the reference's
      bounded catch-up semantics (``MillisBehindLatest == 0`` -> stop,
      kinesis_logs_reader.py:84,103-104).
    - ``kinesis_options``: pass-through to a Kinesis connector
      (``format("kinesis")``); ``startingPosition`` latest/at_timestamp
      maps the reference's LATEST/AT_TIMESTAMP iterator types
      (kinesis_logs_reader.py:68-77).
    """
    if kinesis_options is not None:
        reader = spark.readStream.format("kinesis")
        for k, v in kinesis_options.items():
            reader = reader.option(k, v)
        events = decode_envelope(reader.load(), mode=mode)
    elif path is not None:
        reader = spark.readStream
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        events = _replay_events(reader, path, mode)
    else:
        raise ValueError("need path= (file replay) or kinesis_options=")
    return typed_flow_logs(events, fields) if typed else events
