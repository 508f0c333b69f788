"""Extraction workload: a closed loop of cold ``run_extraction`` passes,
then one incremental pass.

Each cold pass writes into an empty output directory; the next starts
only when the previous one has completed and been checked. After the
loop, an incremental pass over the corpus plus the new doc_ids runs
against the last committed output.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from pathlib import Path

import duckdb

from hostfit import disk_free_bytes, remove_tree


def dir_bytes(path: Path) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
        if not f.startswith(".")
    )


def _parquet(path: Path) -> str:
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = false)"


class Extraction:
    def __init__(self, inputs: Path, manifest: dict, work: Path, checks) -> None:
        from pdf_toolkit_spark.corpus import corpus_config

        self.inputs = inputs
        self.manifest = manifest
        self.out_root = work / "out"
        self.checks = checks
        self.cfg = corpus_config()
        pages = manifest["pages"]
        self.base_pages = sum(pages[d] for d in manifest["base"])
        self.ok_pages = self.base_pages - sum(pages[d] for d in manifest["truncated"])
        self.input_bytes = dir_bytes(inputs)
        n = duckdb.sql(f"SELECT count(*) FROM {_parquet(inputs)}").fetchone()[0]
        if n != len(manifest["doc_ids"]):
            raise RuntimeError(f"corpus holds {n} docs, manifest {len(manifest['doc_ids'])}")
        # the serial extractor's spans, computed when the inputs were made
        self.reference = {
            d: json.loads(ref) for d, ref in duckdb.sql(
                f"SELECT doc_id, reference FROM {_parquet(inputs)} WHERE reference IS NOT NULL"
            ).fetchall()
        }

    # --- set-up -----------------------------------------------------------

    def register(self, spark) -> None:
        """Input registration: the DataFrames the passes read."""

        cols = ("doc_id", "pdf_bytes", "n_pages")
        self.base_df = spark.read.parquet(str(self.inputs / "base")).select(*cols)
        self.full_df = self.base_df.unionByName(
            spark.read.parquet(str(self.inputs / "new")).select(*cols))

    def warm_up(self, spark) -> None:
        """One untimed cold pass, to compile the JVM paths and fill the
        OS cache before anything is timed. A pass over a few docs would
        cost nearly as much (a pass is mostly fixed Spark overhead) and
        leave the first timed pass about 10% slow."""

        from pdf_toolkit_spark.spark.job import run_extraction

        out = self.out_root / "warm"
        remove_tree(out)
        run_extraction(spark, self.base_df, self.cfg, out_dir=str(out), run_id="warm")
        remove_tree(out)

    def input_docs(self, doc_ids: list[str]) -> list[tuple[str, bytes]]:
        ids = ", ".join(f"'{d}'" for d in doc_ids)
        rows = duckdb.sql(
            f"SELECT doc_id, pdf_bytes FROM {_parquet(self.inputs)} WHERE doc_id IN ({ids})"
        ).fetchall()
        order = {d: i for i, d in enumerate(doc_ids)}
        return sorted(((d, bytes(b)) for d, b in rows), key=lambda r: order[r[0]])

    # --- the timed loop ---------------------------------------------------

    def _fresh_out(self, name: str) -> Path | None:
        out = self.out_root / name
        remove_tree(out)
        # output is about as large as the input; keep 4x free
        if disk_free_bytes(self.out_root.parent) < 4 * self.input_bytes + (1 << 30):
            self.checks.check("disk space for one pass", False)
            return None
        return out

    def loop(self, spark, seconds: float, incremental: bool = True, min_passes: int = 1) -> dict:
        """Cold passes for ``seconds`` (at least ``min_passes``), then,
        if ``incremental``, the incremental pass. Returns the timings and
        output sizes, or {} when the disk is too full to start a pass."""

        from pdf_toolkit_spark.spark.job import run_extraction

        cold_s: list[float] = []
        out_bytes: list[int] = []
        out = None
        start = time.monotonic()
        while len(cold_s) < min_passes or time.monotonic() - start < seconds:
            if out is not None:
                remove_tree(out)
            out = self._fresh_out(f"cold{len(cold_s)}")
            if out is None:
                return {}
            t0 = time.monotonic()
            cold = run_extraction(spark, self.base_df, self.cfg, out_dir=str(out), run_id="cold")
            cold_s.append(time.monotonic() - t0)
            out_bytes.append(dir_bytes(out))
            self.verify_cold(out, cold.metrics)
        resume_s = None
        if incremental:
            t0 = time.monotonic()
            inc = run_extraction(spark, self.full_df, self.cfg, out_dir=str(out), run_id="inc")
            resume_s = time.monotonic() - t0
            self.verify_incremental(out, inc.metrics)
        remove_tree(out)
        return {"cold_s": cold_s, "out_bytes": out_bytes, "resume_s": resume_s}

    # --- output checks (outside the timed sections) -------------------------

    def verify_cold(self, out: Path, cold: dict) -> None:
        c, m = self.checks, self.manifest
        base, bad = m["base"], set(m["truncated"])
        c.docs(len(base), abs(cold["docs_processed"] - (len(base) - len(bad)))
               + abs(cold["docs_failed"] - len(bad)))
        c.check("cold pages_parsed", cold["pages_parsed"] == self.ok_pages,
                f"{cold['pages_parsed']} != {self.ok_pages}")
        errors = {d for d, in duckdb.sql(
            f"SELECT doc_id FROM {_parquet(out / 'lineage')} WHERE status = 'error'").fetchall()}
        c.check("cold error rows are the truncated docs", errors == bad, f"{sorted(errors)}")
        self.verify_spans(out, set(base) - bad)
        self.verify_reference(out, set(base))
        for d, ref in self.reference.items():
            if ref == "error":
                c.check(f"{d} fails serially too", d in bad)

    def verify_incremental(self, out: Path, inc: dict) -> None:
        c, m = self.checks, self.manifest
        new, bad = m["new"], set(m["truncated"])
        c.docs(len(new) + len(bad),
               abs(inc["docs_processed"] - len(new)) + abs(inc["docs_failed"] - len(bad)))
        # Only a subset check: a resume run's spans commit re-caches the
        # persisted records (their plan reads the spans path), so today
        # its lineage keeps only the docs still uncommitted after it.
        seen = {d for d, in duckdb.sql(
            f"SELECT doc_id FROM {_parquet(out / 'lineage')} WHERE run_id = 'inc'").fetchall()}
        c.check("incremental lineage names only new or failed doc_ids",
                seen <= set(new) | bad, f"{sorted(seen)}")
        self.verify_spans(out, set(m["base"]) - bad | set(new))
        self.verify_reference(out, set(new))

    def verify_reference(self, out: Path, doc_ids: set[str]) -> None:
        """Committed spans of the check sample's ``doc_ids`` equal the
        serial extractor's."""

        sample = [d for d, ref in self.reference.items() if ref != "error" and d in doc_ids]
        ids = ", ".join(f"'{d}'" for d in sample)
        got = {
            d: [dict(s) for s in sp] for d, sp in duckdb.sql(
                f"SELECT doc_id, spans FROM {_parquet(out / 'spans')} WHERE doc_id IN ({ids})"
            ).fetchall()
        }
        for d in sample:
            self.checks.check(f"spans of {d} equal the serial extractor's",
                              got.get(d) == self.reference[d])

    def verify_spans(self, out: Path, committed: set[str]) -> None:
        c = self.checks
        spans = _parquet(out / "spans")
        rows = duckdb.sql(f"SELECT doc_id FROM {spans}").fetchall()
        c.check("one committed spans row per good doc",
                sorted(r[0] for r in rows) == sorted(committed), f"{len(rows)} rows")
        dangling = duckdb.sql(
            f"SELECT count(*) FROM (SELECT unnest(spans) AS s FROM {spans}) "
            f"WHERE s.kind = 'image' AND s.media_ref NOT IN "
            f"(SELECT media_ref FROM {_parquet(out / 'media')})").fetchone()[0]
        c.check("every image media_ref resolves in media", dangling == 0, f"{dangling} dangling")

    # --- traced phases ------------------------------------------------------

    def phases(self, spark) -> dict[str, float]:
        """Phase times, each timed from outside through job groups:
        a noop sink over the records (the UDF), a noop sink over the spans
        (minus the records time), the rest of ``run_extraction``, and the
        resume anti-join against the committed output."""

        from pyspark.sql import functions as F

        from pdf_toolkit_spark.spark.job import build_pipeline, run_extraction

        sc = spark.sparkContext

        def timed(group: str, action) -> float:
            sc.setJobGroup(group, group)
            t0 = time.monotonic()
            action()
            return time.monotonic() - t0

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        out = self.out_root / "phases"
        remove_tree(out)
        spans, records = build_pipeline(spark, self.base_df, self.cfg)
        udf_s = timed("udf", noop(records))
        spans_s = timed("strip_assemble", noop(spans))
        run_s = timed("sink", lambda: run_extraction(spark, self.base_df, self.cfg,
                                                     out_dir=str(out), run_id="cold"))
        committed = spark.read.parquet(str(out / "spans")).select("doc_id").distinct()
        todo = self.full_df.join(committed, "doc_id", "left_anti").select(
            "doc_id", F.length("pdf_bytes").alias("n"))
        resume_s = timed("resume", noop(todo))
        sc.setJobGroup("", "")
        remove_tree(out)
        return {
            "job.udf_s": udf_s,
            "job.strip_assemble_s": spans_s - udf_s,
            "job.sink_s": run_s - spans_s,
            "job.resume_scan_s": resume_s,
            "job.outside_udf_pct": 100.0 * (run_s - udf_s) / run_s,
        }


def summarize(result: dict, base_docs: int, base_pages: int) -> dict:
    cold = result["cold_s"]
    return {
        "pages_per_s": statistics.median(base_pages / s for s in cold),
        "docs_per_s": statistics.median(base_docs / s for s in cold),
        "cold_pass_s": statistics.median(cold),
        "out_bytes_per_page": statistics.median(result["out_bytes"]) / base_pages,
        "cold_passes": len(cold),
        **({"resume_s": result["resume_s"]} if result["resume_s"] is not None else {}),
    }
