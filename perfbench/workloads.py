"""The benchmark's workloads. Each one builds its inputs from the seed, sets
up untimed state, and then repeats one operation in a closed loop (the next
operation is sent when the previous one has returned):

- ``generate`` writes the set-up inputs (pure numpy/pyarrow, repeatable);
- ``setup`` builds the standing state and warms the JVM;
- ``prepare`` lands the next input (untimed; the program sees only files);
- ``op`` is the timed call into the program's entry point;
- ``check`` verifies that operation's outputs (untimed);
- ``finish`` verifies the final state.

See README.md for why each workload exists and what it should move.
"""

from __future__ import annotations

import gzip
import json
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import cdcgen

MAX_PARALLEL_JOBS = 4

# cdc_catchup: one initial load of a whole CDA tree with fresh savepoints
CATCHUP_TABLES = 4
CATCHUP_FOLDERS = 8
CATCHUP_ROWS_PER_TABLE = 40_000
# cdc_trickle: small deliveries merged into standing snapshots
TRICKLE_TABLES = 4
TRICKLE_BASE_ROWS = 20_000
TRICKLE_CHANGES = 500  # change rows per table per delivery
TRICKLE_WARMUP = 2  # deliveries merged during set-up
# curation_incremental: one landed parquet file per call
CURATION_DOCS = 1_000
CURATION_FIRST_DOCS = 300  # the set-up delivery, curated twice
# every delivery then does the same work, one store compaction included
CURATION_COMPACT_EVERY = 1
CURATION_PLANTED = 0.05  # share of a delivery that near-duplicates accepted docs
CURATION_RECALL_BAR = 0.8


def file_config(source: Path, out: Path, savepoints: Path, mode: str):
    from cda_client_spark.config import from_dict

    return from_dict(
        {
            "sourceLocation": {"path": str(source)},
            "savepointsLocation": str(savepoints),
            "outputSettings": {
                "exportTarget": "file",
                "saveIntoFileType": "parquet",
                "fileSettings": {"path": str(out), "saveMode": mode},
            },
        }
    )


def written(span, out, args, kwargs) -> None:
    """Span counts of a file-sink call: bytes and part files at its path."""
    path = Path(args[1] if len(args) > 1 else kwargs["path"])
    files = [p for p in path.rglob("*") if p.is_file()]
    span.counts["bytes"] = sum(p.stat().st_size for p in files)
    span.counts["files"] = sum(p.name.startswith("part-") for p in files)


class Workload:
    name = ""

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def sink(self, i: int) -> Path:
        """The directory whose new bytes count as written by operation i."""
        raise NotImplementedError

    def trace(self, tracer) -> None:
        """Install the span wrappers for this workload's layers."""
        raise NotImplementedError

    def finish(self) -> list[str]:
        """Checks of the final state, after the timed loop."""
        return []

    def layer_metrics(self) -> dict[str, float]:
        """Workload state reported by the traced run (see layers.METRICS)."""
        return {}


def report_errors(src: cdcgen.CdcSource, report, savepoints: Path) -> list[str]:
    """RunReport.ok, one job per (table, fingerprint), and every savepoint
    at the manifest timestamp."""
    errors = [f"job {r.table}/{r.fingerprint} failed: {r.error}" for r in report.results if not r.ok]
    if len(report.results) != len(src.streams):
        errors.append(f"{len(report.results)} copy jobs, expected {len(src.streams)}")
    stored = json.loads((savepoints / "savepoints.json").read_text())
    return errors + [
        f"savepoint {t}={stored.get(t)}, manifest {ts}"
        for t, ts in src.manifest_ts.items()
        if int(stored.get(t, -1)) != ts
    ]


def snapshot_errors(src: cdcgen.CdcSource, report, out: Path) -> list[str]:
    """Every merged snapshot equals the generator's last state (row count
    and order-independent digest), and so does every job's row count."""
    errors = []
    rows = {(r.table, r.fingerprint): r.rows_written for r in report.results}
    for table, fp in src.streams:
        got = cdcgen.digest(cdcgen.read_snapshot(out / table / fp / "merged"))
        want = cdcgen.digest(src.expected(table, fp))
        if got != want:
            errors.append(f"snapshot {table}/{fp}: (rows, digest) {got} != {want}")
        if rows.get((table, fp)) != want[0]:
            errors.append(f"job {table}/{fp} reports {rows.get((table, fp))} rows, expected {want[0]}")
    return errors


class CdcWorkload(Workload):
    """``pipeline.run`` to a parquet file target; both CDC workloads trace
    the same layers."""

    def trace(self, tracer) -> None:
        import cda_client_spark.pipeline as P
        from cda_client_spark.metadata.savepoints import SavepointsStore

        def planned(span, jobs, args, kwargs):
            span.counts["copy_jobs"] = len(jobs)
            span.counts["folders"] = sum(len(j.folders) for j in jobs)

        def rewritten(span, rows, args, kwargs):
            span.counts["rows"] = rows

        # pipeline.run looks these up as pipeline-module globals
        tracer.patch(P, "read_manifest", "metadata.read_manifest")
        tracer.patch(P, "plan_copy_jobs", "metadata.plan_copy_jobs", planned)
        tracer.patch(SavepointsStore, "upsert", "metadata.savepoints_upsert")
        tracer.patch(P, "run_job", "pipeline.run_job")
        tracer.patch(P, "read_micro_batch", "sources.read_micro_batch")
        tracer.patch(P, "manage_columns_for_target", "operators.columns.manage_columns")
        tracer.patch(P, "write_parquet", "sinks.files.write_parquet", written)
        tracer.patch(P, "replace_dir", "sinks.files.replace_dir")
        tracer.patch(P, "apply_batch_to_snapshot", "pipeline.apply_batch_to_snapshot", rewritten)


class CdcCatchup(CdcWorkload):
    """Initial load of a whole CDA tree: ``pipeline.run`` with fresh
    savepoints, ``saveMode: rawandmerged``, to a parquet file target."""

    name = "cdc_catchup"

    def generate(self) -> None:
        shutil.rmtree(self.work / "source", ignore_errors=True)
        self.src = cdcgen.CdcSource(self.work / "source", self.seed)
        ts = [cdcgen.TS0 + k * cdcgen.TS_STEP for k in range(CATCHUP_FOLDERS)]
        n0 = CATCHUP_ROWS_PER_TABLE // 2
        per_folder = (CATCHUP_ROWS_PER_TABLE - n0) // (CATCHUP_FOLDERS - 1)
        mix = dict(
            n_insert=per_folder * 40 // 100,
            n_update=per_folder * 45 // 100,
            n_delete=per_folder * 15 // 100,
        )
        for t in range(CATCHUP_TABLES):
            table = f"t{t:02d}"
            # a quarter of the tables changed schema halfway: a second
            # fingerprint owns the later folders
            segments = [("fp1", ts)]
            if t % 4 == 0:
                half = CATCHUP_FOLDERS // 2
                segments = [("fp1", ts[:half]), ("fp2", ts[half:])]
            for n, (fp, folders) in enumerate(segments):
                self.src.add_stream(table, fp, 0 if n == 0 else folders[0])
                self.src.deliver(table, fp, folders[0], n_initial=n0 // len(segments))
                for f in folders[1:]:
                    self.src.deliver(table, fp, f, **mix)
        self.src.commit({f"t{t:02d}": ts[-1] for t in range(CATCHUP_TABLES)})

    def setup(self) -> list[str]:
        # one whole load warms the JVM, checked like the measured ones
        return self.check(-1, self.op(-1))

    def prepare(self, i: int) -> tuple[int, int]:
        return self.src.change_rows, self.src.change_bytes

    def sink(self, i: int) -> Path:
        return self.work / f"op{i}" / "out"

    def op(self, i: int):
        from cda_client_spark.pipeline import run

        cfg = file_config(self.src.root, self.sink(i), self.work / f"op{i}" / "sp", "rawandmerged")
        return run(self.spark, cfg, max_parallel_jobs=MAX_PARALLEL_JOBS)

    def check(self, i: int, report) -> list[str]:
        """As ``cdc_trickle``, and the raw output holds every change row."""
        out = self.sink(i)
        errors = report_errors(self.src, report, self.work / f"op{i}" / "sp")
        raw = sum(
            cdcgen.tree_rows(out / t / fp / str(self.src.manifest_ts[t]))
            for t, fp in self.src.streams
        )
        if raw != self.src.change_rows:
            errors.append(f"raw rows {raw} != change rows {self.src.change_rows}")
        errors += snapshot_errors(self.src, report, out)
        shutil.rmtree(self.work / f"op{i}")
        return errors


class CdcTrickle(CdcWorkload):
    """Steady-state deliveries: one small folder per table, then
    ``pipeline.run`` with ``saveMode: merged`` against standing snapshots."""

    name = "cdc_trickle"

    def generate(self) -> None:
        shutil.rmtree(self.work / "source", ignore_errors=True)
        self.src = cdcgen.CdcSource(self.work / "source", self.seed)
        self.tables = [f"t{t:02d}" for t in range(TRICKLE_TABLES)]
        self.ts = cdcgen.TS0
        for table in self.tables:
            self.src.add_stream(table, "fp1")
            self.src.deliver(table, "fp1", self.ts, n_initial=TRICKLE_BASE_ROWS)
        self.src.commit({t: self.ts for t in self.tables})

    def setup(self) -> list[str]:
        self.cfg = file_config(self.src.root, self.work / "out", self.work / "sp", "merged")
        # the base snapshots (an initial load), then warm-up deliveries
        # until per-delivery latency has mostly stopped falling (JIT)
        errors = self.check(-1, self.op(-1))
        for i in range(-TRICKLE_WARMUP, 0):
            self.prepare(i)
            errors += self.check(i, self.op(i))
        return errors

    def prepare(self, i: int) -> tuple[int, int]:
        rows, size = self.src.change_rows, self.src.change_bytes
        self.ts += cdcgen.TS_STEP
        for table in self.tables:
            self.src.deliver(
                table,
                "fp1",
                self.ts,
                n_insert=TRICKLE_CHANGES * 20 // 100,
                n_update=TRICKLE_CHANGES * 65 // 100,
                n_delete=TRICKLE_CHANGES * 15 // 100,
            )
        self.src.commit({t: self.ts for t in self.tables})
        return self.src.change_rows - rows, self.src.change_bytes - size

    def sink(self, i: int) -> Path:
        return self.work / "out"

    def op(self, i: int):
        from cda_client_spark.pipeline import run

        return run(self.spark, self.cfg, max_parallel_jobs=MAX_PARALLEL_JOBS)

    def check(self, i: int, report) -> list[str]:
        return report_errors(self.src, report, self.work / "sp") + snapshot_errors(
            self.src, report, self.work / "out"
        )


def funnel(report) -> dict:
    return {"total": report.total, "kept": report.kept, **report.dropped}


class CurationIncremental(Workload):
    """Closed-loop deliveries through ``run_incremental_curation``: one
    landed parquet file per call, some of whose documents near-duplicate
    documents accepted from earlier deliveries."""

    name = "curation_incremental"

    def generate(self) -> None:
        self.rnd = np.random.RandomState(self.seed)
        self.next_id = 0
        self.texts: dict[int, str] = {}
        self.accepted: list[int] = []
        self.planted: set[int] = set()
        self.flagged = 0
        self.first = self._documents(CURATION_FIRST_DOCS, plant=False)

    def setup(self) -> list[str]:
        from cda_client_spark.curation import run_incremental_curation

        # the first delivery is curated twice into fresh stores: the first
        # call warms the JVM, the second seeds the measured store, and the
        # two funnels must agree (the pipeline is deterministic per seed)
        warm = self.work / "warm"
        self._land(warm, self.first, 0)
        a = funnel(run_incremental_curation(self.spark, self._config(warm)))
        shutil.rmtree(warm)
        self.cfg = self._config(self.work / "main")
        self._land(self.work / "main", self.first, 0)
        b = funnel(run_incremental_curation(self.spark, self.cfg))
        self._exported(self.work / "main" / "out" / "batch=0")
        return [] if a == b else [f"funnel differs across runs of one delivery: {a} != {b}"]

    def _config(self, root: Path):
        from cda_client_spark.curation import CurationConfig

        return CurationConfig(
            input_path="",
            output_path=str(root / "out"),
            steps={
                "piiScrub": {},
                "quality": {"minWords": 20, "minScore": 0.2},
                "encoding": {},
                "repetition": {},
            },
            export_shards=4,
            incremental={
                "landingPath": str(root / "landing"),
                "storePath": str(root / "store"),
                "checkpointPath": str(root / "ckpt"),
                "compactEvery": CURATION_COMPACT_EVERY,
            },
        )

    def _documents(self, n: int, plant: bool) -> pa.Table:
        """The next delivery, in the catalog's documents distribution, with
        ids continuing the previous one's; with ``plant``, a share of it
        copies an accepted document plus three words."""
        from tools.gen_scale_corpus import VOCAB, gen_documents

        ids = np.arange(self.next_id, self.next_id + n)
        tbl = gen_documents(n, self.rnd).set_column(0, "doc_id", pa.array(ids, pa.int64()))
        texts = tbl.column("text").to_pylist()
        if plant and self.accepted:
            k = int(n * CURATION_PLANTED)
            vocab = np.array(VOCAB)
            for j, src in zip(
                self.rnd.choice(n, k, replace=False),
                self.rnd.choice(self.accepted, k, replace=False),
            ):
                texts[j] = self.texts[src] + " " + " ".join(vocab[self.rnd.randint(0, len(vocab), 3)])
                self.planted.add(int(ids[j]))
            tbl = tbl.set_column(1, "text", pa.array(texts)).set_column(
                4, "n_chars", pa.array([len(t) for t in texts], pa.int64())
            )
        self.texts.update(zip(ids.tolist(), texts))
        self.next_id += n
        return tbl

    @staticmethod
    def _land(root: Path, tbl: pa.Table, n: int) -> int:
        landing = root / "landing"
        landing.mkdir(parents=True, exist_ok=True)
        path = landing / f"delivery-{n:05d}.parquet"
        pq.write_table(tbl, path)
        return path.stat().st_size

    def _exported(self, batch: Path) -> set[int]:
        """Ids one exported batch holds; they join the accepted pool."""
        kept: set[int] = set()
        for part in batch.rglob("part-*"):
            opener = gzip.open if part.suffix == ".gz" else open
            with opener(part, "rt") as fh:
                kept.update(json.loads(line)["doc_id"] for line in fh)
        self.accepted.extend(sorted(kept))
        return kept

    def prepare(self, i: int) -> tuple[int, int]:
        tbl = self._documents(CURATION_DOCS, plant=True)
        self.delivered = set(tbl.column("doc_id").to_pylist())
        return tbl.num_rows, self._land(self.work / "main", tbl, i + 1)

    def sink(self, i: int) -> Path:
        return self.work / "main"

    def op(self, i: int):
        from cda_client_spark.curation import run_incremental_curation

        return run_incremental_curation(self.spark, self.cfg)

    def check(self, i: int, report) -> list[str]:
        """Every delivered document was curated once, and the export holds
        exactly the documents the report kept, all from this delivery."""
        errors = []
        if report.total != CURATION_DOCS:
            errors.append(f"delivery {i}: curated {report.total} of {CURATION_DOCS} documents")
        batches = sorted((self.work / "main" / "out").glob("batch=*"), key=lambda p: int(p.name[6:]))
        kept = self._exported(batches[-1])
        if len(kept) != report.kept or not kept <= self.delivered:
            errors.append(f"delivery {i}: exported {len(kept)} documents, report kept {report.kept}")
        self.flagged += report.dropped.get("near_dup", 0)
        return errors

    def _missed_planted(self) -> int:
        return len(self.planted - set(self.accepted))

    def recall(self) -> float:
        """Planted documents not exported ÷ planted."""
        return self._missed_planted() / len(self.planted) if self.planted else 1.0

    def precision(self) -> float:
        """Planted documents not exported ÷ documents flagged near-dup."""
        return min(1.0, self._missed_planted() / self.flagged) if self.flagged else 1.0

    def finish(self) -> list[str]:
        if self.planted and self.recall() < CURATION_RECALL_BAR:
            return [f"near-dup recall {self.recall():.3f} < {CURATION_RECALL_BAR}"]
        return []

    def layer_metrics(self) -> dict[str, float]:
        files = [p for p in (self.work / "main" / "store").rglob("*") if p.is_file()]
        return {
            "streaming.incremental.store_bytes": sum(p.stat().st_size for p in files),
            "streaming.incremental.store_files": sum(p.suffix == ".parquet" for p in files),
            "curation.near_dup_recall": self.recall(),
            "curation.near_dup_precision": self.precision(),
        }

    def trace(self, tracer) -> None:
        import cda_client_spark.curation as C
        import cda_client_spark.sinks.files as SF
        import cda_client_spark.streaming.incremental as I

        # run_incremental_curation imports these at call time, so the
        # module attributes are the names it looks up
        tracer.patch(C, "curate_frame", "curation.curate_frame")
        tracer.patch(I, "batch_buckets", "streaming.incremental.batch_buckets")
        tracer.patch(I, "near_dup_ids", "streaming.incremental.near_dup_ids")
        tracer.patch(I, "write_store_batch", "streaming.incremental.write_store_batch")
        tracer.patch(I, "compact_store", "streaming.incremental.compact_store")
        tracer.patch(SF, "write_jsonl_sharded", "sinks.files.write_jsonl_sharded", written)


WORKLOADS = {w.name: w for w in (CdcCatchup, CdcTrickle, CurationIncremental)}
