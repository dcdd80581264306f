"""Seeded fixture generation (the prepare step) and fixture provenance.

Every input is a pure function of the workload seed. Stata files come
from ``pandas.DataFrame.to_stata`` (an independent writer); SAS and SPSS
files come from the engine's own writers, fed by numpy-generated frames
in one partition, or (the sas7bdat directory) by a Spark frame whose
columns are ``xxhash64`` functions of the row id, so the same seed gives
the same bytes. The SPSS header carries the wall-clock write time, so
those 17 bytes are overwritten with a fixed stamp after writing.

Every run generates its own fixture set, in its own directory, before
set-up; the manifest ``generate`` returns holds the expected aggregates
the output checks compare against and the SHA-256 and size of every
fixture.
"""

from __future__ import annotations

import datetime
import hashlib
import os
import shutil
import zlib
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

STATA_STAMP = datetime.datetime(2024, 1, 1, 0, 0)
SAV_STAMP = b"01 Jan 24" + b"00:00:00"
SAV_STAMP_OFFSET = 92  # magic(4) + product(60) + 5 int32 + bias(8)

# nonempty, ASCII, no trailing blanks: every format and reader keeps them
WORDS = [
    "a", "bb", "ccc", "dddd", "alpha", "bravo two", "charlie-3",
    "delta echo fox", "golf", "hotel india juliet", "kilo.lima", "mike",
    "november oscar", "papa", "quebec romeo sierra", "tango_uniform",
]

# the filter every filtered scan applies: k < K_CUT keeps ~30% of rows
K_CUT = 300

# sizes, chosen so one operation takes well under a second on local[4]
ACS_ROWS = 4_000
ACS_NUMERIC = 279  # + k + 6 strings = 286 columns
ANES_ROWS = 1_200
ANES_NUMERIC = 1_019  # + k + 10 strings = 1,030 columns
MANY_FILES = 150
MANY_ROWS = 100
TALL_ROWS = 100_000  # >= 100k, so the ordered-pack export protocol runs
TALL_DATE_COLS = ("d1", "d2")

# projections of the projected scans: the checked columns plus a few
ACS_PROJECTION = ["k", "s0", "v", "n003", "n050", "n100", "n200", "s5"]
ANES_PROJECTION = ["k", "s0", "v", "n0003", "n0500", "n1000", "s9"]
MANY_PROJECTION = ["k", "s", "v", "x1"]


def crc(s: str) -> int:
    return zlib.crc32(s.encode("utf-8"))


def sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def provenance(root: str, names: list[str]) -> dict:
    """{name: {"sha256", "bytes"[, "files"]}} for each fixture under
    ``root``. A directory fixture gets one digest over its sorted
    (file name, file digest) pairs."""
    out = {}
    for name in names:
        path = os.path.join(root, name)
        if os.path.isdir(path):
            h = hashlib.sha256()
            total = 0
            files = sorted(os.listdir(path))
            for f in files:
                p = os.path.join(path, f)
                h.update(f.encode() + b"\0" + sha256_file(p).encode())
                total += os.path.getsize(p)
            out[name] = {"sha256": h.hexdigest(), "bytes": total, "files": len(files)}
        else:
            out[name] = {"sha256": sha256_file(path), "bytes": os.path.getsize(path)}
    return out


def frame_digest(pdf: pd.DataFrame) -> dict:
    """Per-column content digest of a frame, independent of storage
    type: numeric columns sum their values, date and datetime columns
    sum whole days since 1970-01-01, strings sum CRC-32s of their
    right-stripped UTF-8 bytes. Keys are lower-cased column names
    (SPSS portable files upper-case them)."""
    out = {"__rows": int(len(pdf))}
    for name in pdf.columns:
        col = pdf[name]
        key = str(name).lower()
        if pd.api.types.is_datetime64_any_dtype(col):
            days = col.values.astype("datetime64[D]").astype("int64")
            out[key] = int(days.sum())
        elif pd.api.types.is_numeric_dtype(col):
            out[key] = float(np.asarray(col, dtype="float64").sum())
        else:
            vals = col.tolist()
            if vals and isinstance(vals[0], (datetime.date, datetime.datetime)):
                epoch = datetime.date(1970, 1, 1)
                out[key] = int(
                    sum(
                        ((v.date() if isinstance(v, datetime.datetime) else v) - epoch).days
                        for v in vals
                    )
                )
            else:
                out[key] = int(sum(crc(str(v).rstrip()) for v in vals))
    return out


def _stamp_sav(path: str) -> None:
    with open(path, "r+b") as fh:
        fh.seek(SAV_STAMP_OFFSET)
        fh.write(SAV_STAMP)


def _to_stata(pdf: pd.DataFrame, path: str, **kw) -> None:
    pdf.to_stata(path, write_index=False, time_stamp=STATA_STAMP, **kw)


# -- Spark-side generator columns -----------------------------------------


def _hash(F, seed: int, salt: int):
    return F.xxhash64(F.col("id"), F.lit(seed), F.lit(salt))


def _quarter(F, seed: int, salt: int):
    """Quarter values in [0, 1250): exact in 4-byte SAS numerics."""
    return (F.pmod(_hash(F, seed, salt), F.lit(5000)) / F.lit(4.0)).cast("double")


def _word(F, seed: int, salt: int):
    arr = F.array(*[F.lit(w) for w in WORDS])
    return F.element_at(arr, (F.pmod(_hash(F, seed, salt), F.lit(len(WORDS))) + 1).cast("int"))


def _wide_frame(seed: int, rows: int, n_numeric: int, n_str: int, width: int) -> pd.DataFrame:
    """k, v, n001.., s0..: k drives the filter; k, v and s0 feed the
    checks. Numerics are quarter values below 1250, exact in 4-byte SAS
    numerics."""
    rng = np.random.default_rng(seed)
    words = np.array(WORDS, dtype=object)
    cols = {"k": rng.integers(0, 1000, rows).astype("float64")}
    cols["v"] = rng.integers(0, 5000, rows) / 4.0
    for i in range(1, n_numeric):
        cols[f"n{i:0{width}d}"] = rng.integers(0, 5000, rows) / 4.0
    for j in range(n_str):
        cols[f"s{j}"] = words[rng.integers(0, len(words), rows)]
    return pd.DataFrame(cols)


def _spark_expect(df, str_col: str) -> dict:
    """count, sum(k), sum(crc32(str)), sum(v) over all rows and over
    the filtered rows, computed on the generator frame."""
    from pyspark.sql import functions as F

    aggs = [
        F.count(F.lit(1)),
        F.sum("k"),
        F.sum(F.crc32(F.col(str_col).cast("binary"))),
        F.sum("v"),
    ]
    out = {}
    for label, frame in (("all", df), ("filtered", df.filter(F.col("k") < K_CUT))):
        n, k, c, v = frame.agg(*aggs).collect()[0]
        out[label] = [int(n), float(k), int(c), float(v)]
    return out


def _numpy_expect(k, s, v) -> dict:
    out = {}
    for label, m in (("all", np.ones(len(k), bool)), ("filtered", k < K_CUT)):
        out[label] = [
            int(m.sum()),
            float(k[m].sum()),
            int(sum(crc(x) for x in s[m])),
            float(v[m].sum()),
        ]
    return out


# -- per-workload generators -------------------------------------------------


def _gen_scan_wide(spark, root: str, seed: int) -> dict:
    from polars_readstat_spark.writers.sas7bdat import write_sas7bdat
    from polars_readstat_spark.writers.sav import write_sav

    acs_pdf = _wide_frame(seed, ACS_ROWS, ACS_NUMERIC, 6, 3)
    anes_pdf = _wide_frame(seed + 1, ANES_ROWS, ANES_NUMERIC, 10, 4)
    # one partition, so the written bytes do not depend on the core count
    acs = spark.createDataFrame(acs_pdf).coalesce(1)
    anes = spark.createDataFrame(anes_pdf).coalesce(1)
    numeric = [c for c in acs_pdf.columns if not c.startswith("s")]
    writes = [
        lambda: write_sas7bdat(acs, os.path.join(root, "acs.sas7bdat"), numeric_lengths={c: 4 for c in numeric}),
        lambda: write_sav(acs, os.path.join(root, "acs_bytecode.sav"), compress=True),
        lambda: write_sav(acs, os.path.join(root, "acs.zsav")),
        lambda: write_sav(anes, os.path.join(root, "anes.sav")),
    ]
    # independent Spark jobs: run them side by side
    with ThreadPoolExecutor(len(writes)) as pool:
        for f in [pool.submit(w) for w in writes]:
            f.result()
    for name in ("acs_bytecode.sav", "acs.zsav", "anes.sav"):
        _stamp_sav(os.path.join(root, name))
    acs_expect = _numpy_expect(acs_pdf["k"].values, acs_pdf["s0"].values, acs_pdf["v"].values)
    anes_expect = _numpy_expect(anes_pdf["k"].values, anes_pdf["s0"].values, anes_pdf["v"].values)
    files = {"acs.sas7bdat": acs_expect, "acs_bytecode.sav": acs_expect, "acs.zsav": acs_expect,
             "anes.sav": anes_expect}
    columns = {n: acs_pdf.shape[1] for n in files}
    columns["anes.sav"] = anes_pdf.shape[1]
    return {"files": files, "columns": columns}


def _gen_scan_many_files(spark, root: str, seed: int) -> dict:
    from pyspark.sql import functions as F

    # dta: one pandas.to_stata call per file
    os.makedirs(os.path.join(root, "dta"))
    rng = np.random.default_rng(seed)
    ks, ss, vs = [], [], []
    for i in range(MANY_FILES):
        k = rng.integers(0, 1000, MANY_ROWS).astype("int32")
        v = rng.integers(0, 5000, MANY_ROWS) / 4.0
        s = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), MANY_ROWS)]
        pdf = pd.DataFrame({"k": k, "v": v, "s": s})
        for j in range(1, 5):
            pdf[f"x{j}"] = rng.integers(0, 10_000, MANY_ROWS).astype("float64")
        pdf["t"] = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), MANY_ROWS)]
        _to_stata(pdf, os.path.join(root, "dta", f"f{i:05d}.dta"))
        ks.append(k)
        ss.append(s)
        vs.append(v)
    dta_expect = _numpy_expect(np.concatenate(ks), np.concatenate(ss), np.concatenate(vs))

    # sas7bdat: one part file per partition through the readstat sink
    gen = spark.range(0, MANY_FILES * MANY_ROWS, 1, MANY_FILES).select(
        F.pmod(_hash(F, seed, 0), F.lit(1000)).cast("double").alias("k"),
        _quarter(F, seed, 1).alias("v"),
        _word(F, seed, 2).alias("s"),
        *[_quarter(F, seed, 2 + j).alias(f"x{j}") for j in range(1, 5)],
        _word(F, seed, 7).alias("t"),
    )
    tmp = os.path.join(root, "sas7bdat.tmp")
    gen.write.format("readstat").option("format", "sas7bdat").mode("overwrite").save(tmp)
    os.makedirs(os.path.join(root, "sas7bdat"))
    parts = sorted(f for f in os.listdir(tmp) if f.startswith("part-"))
    for i, f in enumerate(parts):
        os.replace(os.path.join(tmp, f), os.path.join(root, "sas7bdat", f"f{i:05d}.sas7bdat"))
    shutil.rmtree(tmp)
    return {
        "files": {"dta": dta_expect, "sas7bdat": _spark_expect(gen, "s")},
        "columns": {"dta": 8, "sas7bdat": 8},
    }


def tall_frame(seed: int, rows: int = TALL_ROWS) -> pd.DataFrame:
    """16 mixed columns: integer codes, integer-valued doubles (exact
    in every export format), two dates and three strings."""
    rng = np.random.default_rng(seed)
    words = np.array(WORDS, dtype=object)
    base = np.datetime64("1990-01-01")
    pdf = pd.DataFrame({
        "k": rng.integers(0, 1000, rows).astype("int32"),
        "b": rng.integers(0, 100, rows).astype("int8"),
        "i1": rng.integers(-30_000, 30_000, rows).astype("int16"),
        "i2": rng.integers(0, 2_000_000, rows).astype("int32"),
    })
    for j in range(1, 8):
        pdf[f"n{j}"] = rng.integers(-1_000_000, 1_000_000, rows).astype("float64")
    lo_hi = {"d1": (0, 12_000), "d2": (-3_000, 3_000)}
    for c in TALL_DATE_COLS:
        pdf[c] = base + rng.integers(*lo_hi[c], rows).astype("timedelta64[D]")
    for j in range(1, 4):
        pdf[f"s{j}"] = words[rng.integers(0, len(words), rows)]
    return pdf


def _gen_convert(spark, root: str, seed: int) -> dict:
    pdf = tall_frame(seed)
    _to_stata(pdf, os.path.join(root, "tall.dta"), convert_dates={"d1": "td", "d2": "td"})
    return {"files": {"tall.dta": frame_digest(pdf)}, "columns": {"tall.dta": pdf.shape[1]}}


GENERATORS = {
    "scan_wide": _gen_scan_wide,
    "scan_many_files": _gen_scan_many_files,
    "convert": _gen_convert,
}


def _spin_file(root: str) -> None:
    """A tiny file whose first read spins up the Python workers."""
    _to_stata(pd.DataFrame({"k": np.arange(64, dtype="int32")}), os.path.join(root, "spin.dta"))


def generate(spark, root: str, workload: str, seed: int) -> dict:
    """Write ``workload``'s fixtures for ``seed`` into the empty
    directory ``root``; return their manifest: the generator's expected
    figures and each fixture's SHA-256 and size."""
    os.makedirs(root)
    body = GENERATORS[workload](spark, root, seed)
    _spin_file(root)
    names = sorted(body["files"]) + ["spin.dta"]
    return {"workload": workload, "seed": seed, "root": root, **body, "provenance": provenance(root, names)}
