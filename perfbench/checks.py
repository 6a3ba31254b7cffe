"""Output checks, run after the timed passes.

Read ops are checked on the rows their warm-up run collected, against
their DuckDB oracle through ``tools/check.py``'s own ``duck_connect`` and
``normalize``: same columns, same row count, same normalized rows. Ops
without an oracle must return rows. Publish ops are checked against the
oracle's row count, their content hashes must repeat across passes, and
the snapshot store must verify, hold the source table after the last
MERGE and return each version's manifest row count AS OF.
"""

from __future__ import annotations

import importlib.util
import json
import os
import traceback
from pathlib import Path

from n2khab_mhq_data_spark.catalog import load
from n2khab_mhq_data_spark.sources import snapshots


def load_repo_checker(root: Path):
    spec = importlib.util.spec_from_file_location(
        "repo_tools_check", root / "tools" / "check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Checker:
    def __init__(self, root: Path, spark, sf_dir: str, oracles: dict):
        self.chk = load_repo_checker(root)
        self.spark = spark
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.con = self.chk.duck_connect(sf_dir)
        self.result_rows: dict[str, int] = {}

    def read_op(self, name: str, scols: list[str],
                srows: list[tuple]) -> str | None:
        """None when query ``name``'s output, its columns and rows as
        Spark returned them, matches its oracle; else the problem."""
        self.result_rows[name] = len(srows)
        if name not in self.oracles:
            return None if srows else "no rows (no oracle)"
        rel = self.con.sql(self.oracles[name])
        dcols = list(rel.columns)
        drows = rel.fetchall()
        if sorted(scols) != sorted(dcols):
            return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
        if len(srows) != len(drows):
            return f"rowcount spark={len(srows)} duck={len(drows)}"
        if self.chk.normalize(srows, scols) != self.chk.normalize(drows, dcols):
            return "values differ"
        return None

    def oracle_rows(self, query: str) -> int:
        return self.con.sql(
            f"SELECT count(*) FROM ({self.oracles[query]})"
        ).fetchone()[0]

    def published_rows(self, sink: str, query: str, root: str) -> int:
        if sink == "write_published":
            path = os.path.join(root, query, "**", "*.parquet")
            return self.con.sql(
                f"SELECT count(*) FROM read_parquet('{path}')"
            ).fetchone()[0]
        ext = "tsv" if sink == "write_vc" else "csv"
        with open(os.path.join(root, f"{query}.{ext}"), "rb") as fh:
            return sum(1 for _ in fh) - 1  # header line

    def publish_store(self, passes: list[list]) -> None:
        """Mark failing ops of every publish_store pass in place."""
        hashes: dict[str, set] = {}
        for ops in passes:
            for op in ops:
                if op.error is None and op.meta.get("sink") in (
                    "write_vc", "write_csv2"
                ):
                    hashes.setdefault(op.name, set()).add(
                        op.result["data_hash"])
        source_stats = snapshots._content_stats(
            load(self.spark, self.sf_dir, "orders"))
        expected = {}
        for ops in passes:
            for op in ops:
                if op.error is not None:
                    continue
                try:
                    op.failed_check = self._publish_op(
                        op, hashes, source_stats, expected)
                except Exception:
                    op.failed_check = traceback.format_exc(limit=4)

    def _publish_op(self, op, hashes, source_stats, expected) -> str | None:
        meta = op.meta
        if "sink" in meta:
            if len(hashes.get(op.name, ())) > 1:
                return f"data_hash differs across passes: {hashes[op.name]}"
            q = meta["query"]
            if q not in expected:
                expected[q] = self.oracle_rows(q)
            got = self.published_rows(meta["sink"], q, meta["dir"])
            if got != expected[q]:
                return f"published {got} rows, oracle {expected[q]}"
            return None
        if op.name == "compact_published":
            return None  # its output is the published store counted above
        if op.name == "read_snapshot":
            manifest = _manifest(meta["store"], meta["version"])
            n = op.result.count()
            meta["rows"] = n
            if n != manifest["n_rows"]:
                return f"AS OF v{meta['version']}: {n} rows," \
                       f" manifest {manifest['n_rows']}"
            return None
        # write_snapshot / merge_snapshot / optimize_snapshot return the
        # version they published
        store = meta["store"]
        try:
            snapshots.verify_snapshot(self.spark, store, op.result)
        except ValueError as e:
            return str(e)
        latest = max(_listed_versions(store))
        if op.result == latest:
            manifest = _manifest(store, latest)
            if (manifest["n_rows"], manifest["content_hash"]) != source_stats:
                return (f"final v{latest} holds"
                        f" ({manifest['n_rows']}, {manifest['content_hash']}),"
                        f" source table {source_stats}")
        return None


def _manifest(store: str, version: int) -> dict:
    with open(os.path.join(store, "_manifests", f"{version}.json")) as fh:
        return json.load(fh)


def _listed_versions(store: str) -> list[int]:
    return [int(f[:-5]) for f in os.listdir(os.path.join(store, "_manifests"))
            if f.endswith(".json")]
