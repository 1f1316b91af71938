"""cfspark.* configuration surface — the reference's config-key inventory
(SURVEY Appendix B; CubefsConfigs.java:21-49) mirrored onto Spark-native
knobs.  ``apply_conf(spark)`` reads the cfspark.* keys from the session
conf and applies each to the Spark/Hadoop setting that carries the same
capability:

| cfspark key (reference analog)            | applied to                              |
|-------------------------------------------|-----------------------------------------|
| cfspark.warehouse.root (volume+master)    | Engine root (required at Engine init —  |
|                                           | the required-key throw of               |
|                                           | CubefsFileSystem.java:68-86)            |
| cfspark.block.size (cfs.block.size 128MiB)| spark.sql.files.maxPartitionBytes       |
| cfspark.log.level (cfs.log.level INFO)    | sparkContext.setLogLevel                |
| cfspark.access.key / cfspark.secret.key   | fs.s3a.access.key / fs.s3a.secret.key   |
|   (cfs.access.key / cfs.secret.key)       | (object-store credential passthrough)   |
| cfspark.min.read.buffersize (128 KiB)     | io.file.buffer.size (Hadoop stream      |
|                                           | read/copy buffer)                       |
| cfspark.min.buffersize (8 MiB write buf)  | parquet.block.size (writer row-group    |
|                                           | buffer — the write-side batching knob)  |
| cfspark.enable.bcache (client block cache)| Engine.cache_table consults it: when    |
|                                           | true, table() reads are served from     |
|                                           | Spark's block-manager cache after a     |
|                                           | cache_table() — the client-side cache   |
|                                           | tier the reference's bcache provides    |
| cfspark.super.user.name /                 | recorded in conf_report() only — Spark  |
| cfspark.superuser.group                   | local mode has no identity model; on a  |
|                                           | real cluster these map to the cluster's |
|                                           | auth layer, outside this engine         |
| cfspark.checkpoint.dir                    | reliable-barrier checkpoint root        |
|                                           | (plans/materialize.py)                  |
| cfspark.reliable.barriers                 | durable iteration state for dedup/      |
| cfspark.cc.driver.threshold               | CC driver union-find tier gate          |
| cfspark.write.bloom.columns               | parquet bloom filters on versioned      |
|                                           | commits (row-group point-lookup skip)   |
|                                           | components pipelines                    |

Keys absent from the session conf are left at their Spark defaults (the
engine's session posture already bakes in the 128 MiB split contract,
session.py).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

# cfspark key -> (default, description) — the Appendix B inventory.
KEYS: dict[str, tuple[str | None, str]] = {
    "cfspark.warehouse.root": (None, "warehouse root path/URI (required)"),
    "cfspark.block.size": (str(128 << 20), "split/block size in bytes"),
    "cfspark.log.level": (None, "driver log level (INFO/WARN/ERROR)"),
    "cfspark.access.key": (None, "object-store access key"),
    "cfspark.secret.key": (None, "object-store secret key"),
    "cfspark.min.read.buffersize": (str(128 << 10), "stream read buffer"),
    "cfspark.min.buffersize": (str(8 << 20), "write buffer (row-group)"),
    "cfspark.enable.bcache": ("false", "client-side block cache tier"),
    "cfspark.super.user.name": ("hdfs", "recorded; cluster-auth concern"),
    "cfspark.superuser.group": ("supergroup", "recorded; cluster-auth concern"),
    "cfspark.checkpoint.dir": (None, "reliable-barrier checkpoint root"),
    "cfspark.reliable.barriers": ("false", "durable iteration state"),
    "cfspark.cc.driver.threshold": (
        str(2_000_000),
        "pair-graph size under which connected components runs as "
        "driver union-find instead of star rounds (0 disables)",
    ),
    "cfspark.write.bloom.columns": (
        None,
        "comma list: write parquet bloom filters for these columns on "
        "versioned commits (row-group skipping for point lookups)",
    ),
}


def _get(spark: SparkSession, key: str) -> str | None:
    try:
        return spark.conf.get(key, None)
    except Exception:
        return None


def apply_conf(spark: SparkSession) -> dict[str, str]:
    """Apply every cfspark.* key present in the session conf to its
    Spark/Hadoop carrier (table above).  Returns {key: applied-to} for
    the keys that were present."""
    applied: dict[str, str] = {}
    hconf = spark.sparkContext._jsc.hadoopConfiguration()

    v = _get(spark, "cfspark.block.size")
    if v is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", v)
        applied["cfspark.block.size"] = "spark.sql.files.maxPartitionBytes"
    v = _get(spark, "cfspark.log.level")
    if v is not None:
        spark.sparkContext.setLogLevel(v)
        applied["cfspark.log.level"] = "sparkContext.setLogLevel"
    v = _get(spark, "cfspark.access.key")
    if v is not None:
        hconf.set("fs.s3a.access.key", v)
        applied["cfspark.access.key"] = "fs.s3a.access.key"
    v = _get(spark, "cfspark.secret.key")
    if v is not None:
        hconf.set("fs.s3a.secret.key", v)
        applied["cfspark.secret.key"] = "fs.s3a.secret.key"
    v = _get(spark, "cfspark.min.read.buffersize")
    if v is not None:
        hconf.set("io.file.buffer.size", v)
        applied["cfspark.min.read.buffersize"] = "io.file.buffer.size"
    v = _get(spark, "cfspark.min.buffersize")
    if v is not None:
        hconf.set("parquet.block.size", v)
        applied["cfspark.min.buffersize"] = "parquet.block.size"
    return applied


def conf_report(spark: SparkSession) -> dict[str, dict[str, str | None]]:
    """Effective cfspark.* configuration: every inventoried key with its
    default, description, and the session's current value (None = unset,
    default in force)."""
    return {
        key: {
            "value": _get(spark, key),
            "default": default,
            "description": desc,
        }
        for key, (default, desc) in KEYS.items()
    }
