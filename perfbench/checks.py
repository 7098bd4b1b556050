"""Expected outputs, computed once per input digest and cached.

* Pipeline workloads: the single-threaded ``quality_filter.oracle`` scores
  the base rows; every replica inherits its base row's status.  The check
  is per-status counts plus an order-free hash, the sum of
  crc32("<url>|<status>") over all rows, which Spark computes with
  ``F.crc32`` in the same pass that is timed.
* Registry queries: each query's ``oracle_sql()`` twin runs on DuckDB
  over the same parquet; rows are normalised as
  ``scripts/check_correctness.py`` does (columns sorted by name, floats
  to 9 significant digits, rows sorted) and hashed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import zlib

from perfbench.inputs import CACHE, Input, sha256_file

STATUSES = ("keep", "drop", "quarantine")


def artifact_digests(artifact_dir: str) -> dict[str, str]:
    return {n: sha256_file(os.path.join(artifact_dir, n))
            for n in ("langid.npz", "lm.npz", "rules.json")}


def _cache_path(kind: str, inp: Input, artifacts: dict[str, str], extra=None) -> str:
    key = hashlib.sha256(json.dumps([inp.digest, artifacts, extra], sort_keys=True).encode())
    return os.path.join(CACHE, f"{kind}-{key.hexdigest()[:24]}.json")


def _load_or(path: str, build) -> dict:
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    out = build()
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(out, f, sort_keys=True)
    os.replace(tmp, path)
    return out


def url_status_hash(url: str, status: str) -> int:
    return zlib.crc32(f"{url}|{status}".encode("utf-8"))


def pipeline_expected(inp: Input, artifact_dir: str, artifacts: dict[str, str]) -> dict:
    """{"counts": {status: n}, "hash": int, "by_day": {day: {status: n}}}
    over the replicated input."""

    def build() -> dict:
        from quality_filter.oracle import run_oracle

        base = inp.frame("base")
        res = run_oracle(base, artifact_dir=artifact_dir)
        reps = inp.meta["params"]["replicate"]
        days = base["warc_ts"].dt.strftime("%Y-%m-%d")
        counts = {s: 0 for s in STATUSES}
        by_day: dict[str, dict[str, int]] = {}
        h = 0
        for url, status, day in zip(res["url"], res["status"], days):
            counts[status] += reps
            day_counts = by_day.setdefault(day, {})
            day_counts[status] = day_counts.get(status, 0) + reps
            h += sum(url_status_hash(f"{url}#r{k}", status) for k in range(reps))
        return {"counts": counts, "hash": h, "by_day": by_day}

    return _load_or(_cache_path("oracle-pipeline", inp, artifacts), build)


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted(tuple(norm_cell(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(json.dumps([sorted(cols), normed]).encode("utf-8"))
    return len(normed), h.hexdigest()


def registry_expected(inp: Input, names: list[str], artifacts: dict[str, str]) -> dict:
    """{query: [rows, digest]} from the DuckDB twins."""

    def build() -> dict:
        import duckdb

        import __spark_entry__ as E

        oracles = E.oracle_sql()
        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM "
                    f"'{os.path.join(inp.path, 'documents.parquet')}'")
            out = {}
            for n in names:
                rel = con.sql(oracles[n])
                out[n] = list(rows_digest([d[0] for d in rel.description], rel.fetchall()))
            return out
        finally:
            con.close()

    return _load_or(_cache_path("oracle-registry", inp, artifacts, names), build)
