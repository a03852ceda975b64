"""WSClean sky-model text catalogue reader.

Capability parity with /root/reference/africanus/model/wsclean/
file_model.py:197-251 (`load`): parse the header line
``Format = Name, Type, Ra, Dec, I, SpectralIndex, LogarithmicSI,
ReferenceFrequency='...', MajorAxis, MinorAxis, Orientation``, then read
comma-separated source rows with typed converters and per-column defaults:

- Ra is sexagesimal hours ``hh:mm:ss.s`` → radians (file_model.py:19-34)
- Dec is sexagesimal degrees ``dd.mm.ss.s`` → radians (:37-49)
- SpectralIndex is a bracketed list ``[0.1,-0.2]`` (:52-60)
- empty fields fall back to the header defaults (:88-115)

Spark-first: the file is read with ``spark.read.text`` (line-oriented,
scales to a directory of models), the header is parsed on the driver
(one line), and all converters are Column expressions — regexp splits +
arithmetic, no Python UDFs — so catalogue ingest at any size stays
JVM-side.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

H2RAD = math.pi / 12.0  # hours → radians
D2RAD = math.pi / 180.0


def _parse_header(line: str) -> tuple[list[str], dict[str, str]]:
    """Header → (column order, {column: default}) (file_model.py:108-115)."""
    m = re.match(r"^\s*format\s*=\s*(.*)$", line, re.IGNORECASE)
    if not m:
        raise ValueError(f"expected 'Format = ...' header, got {line!r}")
    cols, defaults = [], {}
    for tok in m.group(1).split(","):
        tok = tok.strip()
        dm = re.match(r"^(\w+)\s*=\s*'?([^']*)'?$", tok)
        if dm:
            cols.append(dm.group(1))
            defaults[dm.group(1)] = dm.group(2)
        else:
            cols.append(tok)
    return cols, defaults


def _sexagesimal_hours_to_rad(col):
    """±hh:mm:ss.s → radians (file_model.py:19-34). Sign applies to the
    whole quantity."""
    sign = F.when(F.trim(col).startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    p = F.split(F.regexp_replace(F.trim(col), "^[+-]", ""), ":")
    hours = (
        p.getItem(0).cast("double")
        + p.getItem(1).cast("double") / 60.0
        + p.getItem(2).cast("double") / 3600.0
    )
    return sign * hours * F.lit(H2RAD)


def _sexagesimal_degrees_to_rad(col):
    """±dd.mm.ss.s → radians (file_model.py:37-49); WSClean uses '.' as
    the Dec separator, so split on the first two dots only."""
    sign = F.when(F.trim(col).startswith("-"), F.lit(-1.0)).otherwise(F.lit(1.0))
    s = F.regexp_replace(F.trim(col), "^[+-]", "")
    deg = F.regexp_extract(s, r"^(\d+)\.(\d+)\.([\d.]+)$", 1).cast("double")
    minutes = F.regexp_extract(s, r"^(\d+)\.(\d+)\.([\d.]+)$", 2).cast("double")
    secs = F.regexp_extract(s, r"^(\d+)\.(\d+)\.([\d.]+)$", 3).cast("double")
    return sign * (deg + minutes / 60.0 + secs / 3600.0) * F.lit(D2RAD)


def read_wsclean_model(spark: SparkSession, path: str) -> DataFrame:
    """Read a WSClean text sky model into a typed source DataFrame."""
    lines = spark.read.text(path)
    header = lines.limit(1).collect()[0].value
    cols, defaults = _parse_header(header)

    body = lines.filter(
        (~F.lower(F.col("value")).startswith("format"))
        & (F.length(F.trim(F.col("value"))) > 0)
        & (~F.trim(F.col("value")).startswith("#"))
    )
    # split on commas NOT inside [...] (spectral-index lists carry commas)
    parts = F.split(F.col("value"), r",(?![^\[]*\])")
    df = body.select(
        *[F.trim(parts.getItem(i)).alias(c) for i, c in enumerate(cols)]
    )

    def with_default(name: str):
        c = F.col(name) if name in cols else F.lit("")
        d = defaults.get(name, "")
        return F.when(F.length(c) == 0, F.lit(d)).otherwise(c)

    spi_list = F.expr(
        "transform(split(regexp_replace(SpectralIndex, '[\\\\[\\\\]]', ''), ','), "
        "x -> CAST(trim(x) AS DOUBLE))"
    ) if "SpectralIndex" in cols else F.array().cast("array<double>")

    return df.select(
        with_default("Name").alias("name"),
        F.upper(with_default("Type")).alias("source_type"),
        _sexagesimal_hours_to_rad(with_default("Ra")).alias("ra"),
        _sexagesimal_degrees_to_rad(with_default("Dec")).alias("dec"),
        with_default("I").cast("double").alias("flux_i"),
        spi_list.alias("spectral_index"),
        (F.lower(with_default("LogarithmicSI")) == "true").alias("log_si"),
        with_default("ReferenceFrequency").cast("double").alias("ref_freq"),
        # axes arrive in arcsec (reference converts to radians at use)
        (with_default("MajorAxis").cast("double") * F.lit(math.pi / 648000.0)).alias("emaj"),
        (with_default("MinorAxis").cast("double") * F.lit(math.pi / 648000.0)).alias("emin"),
        (with_default("Orientation").cast("double") * F.lit(D2RAD)).alias("position_angle"),
    )
