"""Job manifests and cloud-transfer connectors (SURVEY §2.1 S18–S27).

Semantics source: caliban_toolbox/log_file.py:36-73 (manifest schema +
CSV sink), figure_eight_functions.py:43-113 (URL projection, log naming),
aws_functions.py:106-144 (missing-download report = anti join).

The manifest is a first-class DataFrame:
``project_url, filename, stage, aws_folder, job_id, pixel_only,
label_only, rgb_mode`` (log_file.py:53-61) — the join key between local
units, object-store keys, and crowdsourcing job rows.

S3 itself is just a path scheme here: every source/sink in the engine
accepts ``s3a://`` URIs once the Hadoop S3A connector is configured
(``s3a_conf``); nothing else changes — that's the Spark-native form of
the reference's boto3 upload/download loops.
"""

from __future__ import annotations

import re
from urllib.parse import urlencode

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.session import local_frame

MANIFEST_COLUMNS = [
    "project_url",
    "filename",
    "stage",
    "aws_folder",
    "job_id",
    "pixel_only",
    "label_only",
    "rgb_mode",
]


def s3a_conf(bucket_acl_public: bool = False) -> dict[str, str]:
    """Hadoop conf for S3A read/write (S18/S19 posture). Applied via
    ``spark.conf.set`` or spark-submit --conf on a real cluster."""
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.committer.name": "magic",
        "spark.hadoop.fs.s3a.fast.upload": "true",
    }
    if bucket_acl_public:
        conf["spark.hadoop.fs.s3a.acl.default"] = "PublicRead"
    return conf


def format_job_url(aws_folder: str, stage: str, npz: str,
                   pixel_only: bool = False, label_only: bool = False,
                   rgb_mode: bool = False) -> str:
    """One unit's crowdsourcing URL (figure_eight_functions.py:43-47,
    73-113): '/'→'__' rewrite + urlencoded option flags."""
    flags = urlencode(
        {"pixel_only": pixel_only, "label_only": label_only, "rgb": rgb_mode}
    )
    base = "https://caliban.deepcell.org/caliban-input__caliban-output__{}__{}__{}"
    return base.format(re.sub("/", "__", aws_folder), stage, npz) + "?" + flags


def create_upload_log(
    spark: SparkSession,
    stage: str,
    aws_folder: str,
    filenames: list[str],
    job_id: int = 0,
    pixel_only: bool = False,
    label_only: bool = False,
    rgb_mode: bool = False,
) -> DataFrame:
    """S21/S23: manifest DataFrame with projected job URLs — pure
    column expressions over the filename list."""
    df = local_frame(spark, [(f,) for f in filenames], "filename STRING")
    flags = urlencode({"pixel_only": pixel_only, "label_only": label_only, "rgb": rgb_mode})
    url = F.concat(
        F.lit("https://caliban.deepcell.org/caliban-input__caliban-output__"),
        F.regexp_replace(F.lit(aws_folder), "/", "__"),
        F.lit(f"__{stage}__"),
        F.col("filename"),
        F.lit("?" + flags),
    )
    return df.select(
        url.alias("project_url"),
        "filename",
        F.lit(stage).alias("stage"),
        F.lit(aws_folder).alias("aws_folder"),
        F.lit(job_id).alias("job_id"),
        F.lit(pixel_only).alias("pixel_only"),
        F.lit(label_only).alias("label_only"),
        F.lit(rgb_mode).alias("rgb_mode"),
    )


def write_manifest(df: DataFrame, path: str) -> None:
    """Manifest CSV sink (header, single file — manifests are tiny)."""
    df.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("header", True).option("inferSchema", True).csv(path)


def latest_log_name(names: list[str]) -> str | None:
    """S22: latest manifest by lexicographic order
    (figure_eight_functions.py:57-70)."""
    logs = sorted(n for n in names if n.startswith("stage"))
    return logs[-1] if logs else None


def next_log_name(current: str) -> str:
    """S26 stage hand-off naming (figure_eight_functions.py:50-54):
    stage_{n}_... -> stage_{n+1}_..."""
    m = re.match(r"stage_(\d+)(.*)", current)
    if not m:
        raise ValueError(f"not a stage log name: {current}")
    return f"stage_{int(m.group(1)) + 1}{m.group(2)}"


def missing_files_report(manifest: DataFrame, listed: DataFrame,
                         key: str = "filename") -> DataFrame:
    """S20/J3: expected-but-absent keys — manifest LEFT ANTI listing."""
    return manifest.join(listed, on=key, how="left_anti").select(key)


def listed_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Object-store/FS listing as a DataFrame of filenames (binaryFile
    metadata scan — no content read: S4/S11)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("filename")
    )
