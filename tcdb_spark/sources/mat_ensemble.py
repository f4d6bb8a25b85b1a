"""MATLAB .mat syntrack ingestion (reference: tcdb/etl/syntracks.py:203-269
``loadmat`` + recursive struct dict-ify + ``toSyntrackObjects``).

The load path uses the pure-stdlib MAT 5 parser in ``mat5.py`` (scipy is
not in this image; the container format is public), so ingestion is real:
a struct array with the reference's field layout (``ens``, ``stormName``,
``annual_id``, ``hour``, ``lat``, ``lon``, ``wind``, ``mslp``) becomes
long-format rows.  ``model`` and ``init`` are not stored in the file —
the reference passes them into ``toSyntrackObjects`` from the filename —
so they arrive either as arguments or via the ``MODEL_YYYYMMDDHH.mat``
naming convention.

Scale path: ``read_mat_ensemble_distributed`` lists files with the
``binaryFile`` source and parses each file inside ``mapInPandas`` —
one task per file group, no driver-side loop, the same conversion code.
"""

from __future__ import annotations

import datetime as dt
import os
import re
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from tcdb_spark.schemas import SYNTRACK_SCHEMA
from tcdb_spark.session import local_frame
from tcdb_spark.sources import mat5


def structs_to_rows(structs: list[dict[str, Any]]) -> list[tuple]:
    """Flatten syntrack dicts (model, init, ens, annual_id, storm_name,
    hour[], lat[], lon[], wind[], mslp[]) into long-format rows. NaNs map
    to None (np.nan/np.datetime64('NaT') sentinels -> SQL NULL,
    SURVEY.md §1.3)."""
    import math

    rows = []
    for s in structs:
        hours = s["hour"]
        for i, h in enumerate(hours):
            def _get(key):
                seq = s.get(key)
                if seq is None or i >= len(seq):
                    return None
                v = float(seq[i]) if seq[i] is not None else None
                return None if (v is not None and math.isnan(v)) else v

            rows.append(
                (
                    str(s["model"]),
                    s["init"],
                    int(s["ens"]),
                    int(s.get("annual_id", 0)),
                    s.get("storm_name"),
                    int(h),
                    _get("lat"),
                    _get("lon"),
                    _get("wind"),
                    _get("mslp"),
                )
            )
    return rows


_NAME_RE = re.compile(r"(?P<model>[A-Za-z0-9]+)_(?P<init>\d{10})\.mat$")


def _parse_filename(path: str) -> tuple[str, dt.datetime]:
    """MODEL_YYYYMMDDHH.mat -> (model, init). The reference passes both
    into toSyntrackObjects externally; the filename is their carrier."""
    m = _NAME_RE.search(os.path.basename(path))
    if not m:
        raise ValueError(
            f"cannot infer (model, init) from {path!r}; expected "
            "MODEL_YYYYMMDDHH.mat or explicit model=/init= arguments"
        )
    return m["model"].upper(), dt.datetime.strptime(m["init"], "%Y%m%d%H")


def _ensure_list(v: Any) -> list:
    """Mirror of the reference's ensureArray (tcdb/etl/syntracks.py:271+):
    squeeze_me collapses 1-step tracks to scalars; re-wrap them."""
    if v is None:
        return []
    if hasattr(v, "tolist"):
        v = v.tolist()
    return v if isinstance(v, list) else [v]


def mat_to_structs(raw: dict[str, Any], model: str, init: dt.datetime) -> list[dict]:
    """Convert a parsed .mat dict to the structs_to_rows layout.

    Field mapping follows toSyntrackObjects (tcdb/etl/syntracks.py:228-
    269): ``stormName`` non-str -> None, scalar tracks re-wrapped, the
    struct-array variable found by its ``hour`` field (variable name is
    site-specific, the shape is not).
    """
    tracks = None
    for v in raw.values():
        cand = [v] if isinstance(v, dict) else v if isinstance(v, list) else None
        if cand and all(isinstance(t, dict) and "hour" in t for t in cand):
            tracks = cand
            break
    if tracks is None:
        raise ValueError("no struct array with an 'hour' field in .mat file")
    structs = []
    for t in tracks:
        storm_name = t.get("stormName")
        if not isinstance(storm_name, str) or not storm_name:
            storm_name = None
        annual_id = t.get("annual_id")
        structs.append(
            {
                "model": model,
                "init": init,
                "ens": int(t["ens"]),
                "annual_id": int(annual_id) if annual_id is not None else 0,
                "storm_name": storm_name,
                "hour": [int(h) for h in _ensure_list(t["hour"])],
                "lat": _ensure_list(t.get("lat")),
                "lon": _ensure_list(t.get("lon")),
                "wind": _ensure_list(t.get("wind")),
                "mslp": _ensure_list(t.get("mslp")),
            }
        )
    return structs


def read_mat_ensemble(
    spark: SparkSession,
    path: str,
    model: str | None = None,
    init: dt.datetime | None = None,
) -> DataFrame:
    """Driver-side .mat load -> long-format DataFrame (one small file;
    use read_mat_ensemble_distributed for a landing directory)."""
    if model is None or init is None:
        model, init = _parse_filename(path)
    raw = mat5.load_mat(path)
    return local_frame(
        spark, structs_to_rows(mat_to_structs(raw, model, init)), SYNTRACK_SCHEMA
    )


def read_mat_ensemble_distributed(spark: SparkSession, pattern: str) -> DataFrame:
    """Distributed .mat ingestion: ``binaryFile`` lists + reads the files
    (splittable listing, whole-file content per row), ``mapInPandas``
    parses each file's bytes with the same pure-Python MAT 5 reader and
    emits long-format rows.  Parallelism = number of files; each task
    holds one file's structs in memory (ensemble .mat files are tens of
    MB, well under executor budgets)."""
    import pandas as pd

    cols = [f.name for f in SYNTRACK_SCHEMA.fields]

    def parse(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                model, init = _parse_filename(path)
                raw = mat5.load_mat(bytes(content))
                rows.extend(structs_to_rows(mat_to_structs(raw, model, init)))
            yield pd.DataFrame(rows, columns=cols)

    files = spark.read.format("binaryFile").load(pattern).select("path", "content")
    return files.mapInPandas(parse, SYNTRACK_SCHEMA)


def _fake_structs(model: str, n_ens: int, n_steps: int, init: dt.datetime) -> list[dict]:
    structs = []
    for e in range(n_ens):
        if e == n_ens - 1:
            structs.append(
                {
                    "model": model, "init": init, "ens": e, "annual_id": 0,
                    "storm_name": None, "hour": [i * 6 for i in range(n_steps)],
                    "lat": [float("nan")] * n_steps, "lon": [float("nan")] * n_steps,
                    "wind": [float("nan")] * n_steps, "mslp": [float("nan")] * n_steps,
                }
            )
            continue
        structs.append(
            {
                "model": model, "init": init, "ens": e,
                "annual_id": 1 if e == 0 else 0,
                "storm_name": "TEST" if e == 0 else None,
                "hour": [i * 6 for i in range(n_steps)],
                "lat": [10.0 + e * 0.5 + i * 0.4 for i in range(n_steps)],
                "lon": [-40.0 - e * 0.5 - i * 0.5 for i in range(n_steps)],
                "wind": [30.0 + e + 2.0 * i for i in range(n_steps)],
                "mslp": [1005.0 - e - i for i in range(n_steps)],
            }
        )
    return structs


def fake_ensemble_df(
    spark: SparkSession,
    model: str = "ECMWF",
    n_ens: int = 8,
    n_steps: int = 5,
    init=None,
) -> DataFrame:
    """Deterministic synthetic ensemble: member e starts at
    (10 + e*0.5, -40 - e*0.5) moving NW, member n_ens-1 all-NaN
    (exercises the empty-track filter), member 0 pre-assigned
    annual_id=1."""
    init = init or dt.datetime(2022, 9, 1, 0, 0, 0)
    return local_frame(
        spark, structs_to_rows(_fake_structs(model, n_ens, n_steps, init)), SYNTRACK_SCHEMA
    )


def write_fake_mat(
    path: str,
    model: str = "ECMWF",
    n_ens: int = 8,
    n_steps: int = 5,
    init=None,
    compress: bool = False,
) -> str:
    """Write the deterministic fake ensemble as a REAL MAT 5 file with
    the reference's struct-array field layout, so ingestion tests
    round-trip through actual bytes. Returns the path written."""
    init = init or dt.datetime(2022, 9, 1, 0, 0, 0)
    tracks = [
        {
            "ens": s["ens"],
            "stormName": s["storm_name"] or "",
            "annual_id": s["annual_id"],
            "hour": [float(h) for h in s["hour"]],
            "lat": s["lat"],
            "lon": s["lon"],
            "wind": s["wind"],
            "mslp": s["mslp"],
        }
        for s in _fake_structs(model, n_ens, n_steps, init)
    ]
    mat5.save_mat(path, {"tracks": tracks}, compress=compress)
    return path
