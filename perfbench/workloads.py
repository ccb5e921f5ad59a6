"""The three benchmark workloads and their layer traces.

Every workload is a closed loop with one client: the next job starts
only when the previous one has finished. A job's output is checked
against the DuckDB twin (`inputs.prepare`) by row count and an
order-independent digest.

- flagship: pages -> extract_points -> pip_join -> with_tile -> count
  per (area, tile), collected.
- skewed_density: density_classify over the stored mentions, consumed
  by a per-label digest aggregate.
- checkpoint_resume: the flagship stages through runtime.Pipeline into
  a fresh snapshot root, then the last stage's manifest is deleted and
  the run resumed.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import functions as F

import inputs
from probes import last_sql_rows, stage_metrics, timed

from geospark import geodata as G
from geospark.cells import with_tile
from geospark.density import density_classify, eps_pairs
from geospark.extract import extract_points
from geospark.joins import pip_join
from geospark.runtime import Pipeline, Stage

WORKLOADS = ("flagship", "skewed_density", "checkpoint_resume")
CKPT_TABLES = ("_source", "extract", "pip", "tiles", "_lineage")
RESUMES = 2  # crash-and-resume cycles per checkpoint_resume job


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _commits(root: Path) -> dict[str, int]:
    """Committed manifests per pipeline table."""
    return {t: len(list((root / t / "_snapshots").glob("*.json")))
            for t in CKPT_TABLES[:-1]}


def _tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


class Bench:
    """One Spark session's view of one seed's inputs."""

    def __init__(self, spark, root: Path, oracle: dict, work: Path):
        self.spark = spark
        self.oracle = oracle
        self.work = work
        self.layer = G.demo_layer()
        self.pages = inputs.page_files(root)
        self.ckpt_pages = self.pages[:inputs.CKPT_PARTS]
        self.points = inputs.point_files(root)
        self.n_jobs = 0

    # -- plans --------------------------------------------------------------
    def _tile_counts(self, hits):
        return with_tile(hits, inputs.TILE_ZOOM).groupBy(
            "area_id", "tile_x", "tile_y").agg(F.count("*").alias("n_points"))

    def _stages(self) -> list[Stage]:
        return [
            Stage("extract", extract_points),
            Stage("pip", lambda df: pip_join(df, self.layer)),
            Stage("tiles", self._tile_counts),
        ]

    # Plan prefixes are built lazily, inside the timed region:
    # density_classify runs its spool jobs while the plan is built.
    def _flagship_prefixes(self, files):
        def pages():
            return self.spark.read.parquet(*files)

        def pip():
            return pip_join(extract_points(pages()), self.layer)

        return [("scan", lambda: pages().select("url", "text")),
                ("extract", lambda: extract_points(pages())),
                ("pip", pip),
                ("agg", lambda: self._tile_counts(pip()))]

    def _density_prefixes(self, files):
        def pts():
            return self.spark.read.parquet(*files)

        return [
            ("scan", pts),
            ("eps_pairs", lambda: eps_pairs(pts(), inputs.EPS_M, id_col="pid")),
            ("classify", lambda: density_classify(pts(), inputs.EPS_M,
                                                  inputs.MIN_PTS, id_col="pid")),
        ]

    def _labels(self, files) -> list:
        m = inputs.DIGEST_MOD
        pid = F.col("pid") % m
        return self._density_prefixes(files)[-1][1]().groupBy("label").agg(
            F.count("*"), F.sum(pid), F.sum("n_neighbors"),
            F.sum((pid * 65599 + F.col("n_neighbors")) % m),
        ).collect()

    # -- jobs ---------------------------------------------------------------
    def _group(self) -> str:
        self.n_jobs += 1
        group = f"perfbench-{self.n_jobs}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def _tiles_job(self, pages: list[str], expect: dict) -> dict:
        wall, rows = timed(lambda: self._flagship_prefixes(pages)[-1][1]().collect())
        digest = inputs.tiles_digest(rows)
        return {"wall": wall, "ok": digest == expect, "digest": digest}

    def run_job(self, workload: str) -> dict:
        """Run one job and check its output against the twin."""
        group = self._group()
        if workload == "flagship":
            job = self._tiles_job(self.pages, self.oracle["tiles"])
        elif workload == "skewed_density":
            wall, rows = timed(self._labels, self.points)
            digest = inputs.labels_digest(rows)
            job = {"wall": wall, "ok": digest == self.oracle["density"],
                   "digest": digest}
        else:
            job = self._checkpoint(self.ckpt_pages, group)
        job["group"] = group
        return job

    def _checkpoint(self, pages: list[str], group: str) -> dict:
        """Commit, check, then RESUMES x (lose the tiles commit, resume,
        check). ``files_bytes`` is the snapshot tree one commit writes."""
        root = self.work / group
        shutil.rmtree(root, ignore_errors=True)
        source = self.spark.read.parquet(*pages)
        try:
            wall, out = timed(Pipeline(self.spark, str(root)).run, source,
                              self._stages())
            # the job's group holds the commit alone; its checks and
            # resumes go to a group of their own
            self._group()
            digest = inputs.tiles_digest(out.collect())
            written = {t: _tree_bytes(root / t) for t in CKPT_TABLES}
            manifests = {t: Pipeline(self.spark, str(root)).table(t).current()
                         for t in CKPT_TABLES[:-1]}
            resumes, resumed = [], []
            for _ in range(RESUMES):
                # crash: the last stage's commit is lost
                for f in (root / "tiles" / "_snapshots").glob("*.json"):
                    f.unlink()
                before = _commits(root)
                t, out2 = timed(Pipeline(self.spark, str(root)).run, source,
                                self._stages())
                resumes.append(t)
                resumed.append(inputs.tiles_digest(out2.collect()))
                after = _commits(root)
                skipped = sum(after[s] == before[s] for s in ("extract", "pip", "tiles"))
        finally:
            shutil.rmtree(root, ignore_errors=True)
        source_s = manifests["_source"]["wall_s"]
        stage_s = sum(manifests[t]["wall_s"] for t in ("extract", "pip", "tiles"))
        return {
            "wall": wall, "resumes": resumes, "digest": digest,
            "ok": digest == self.oracle["tiles_ckpt"]
            and all(r == digest for r in resumed),
            "files_bytes": sum(written.values()),
            "runtime": {
                "source_commit_s": source_s,
                "stage_commit_s": stage_s,
                "lineage_s": wall - source_s - stage_s,
                **{f"bytes_written.{t}": b for t, b in written.items()},
                "resume_stages_skipped": skipped,
            },
        }

    def job_stages(self, job: dict) -> dict:
        return stage_metrics(self.spark.sparkContext, job["group"])

    # -- layer traces ---------------------------------------------------------
    def _prefix_walls(self, prefixes, reps: int = 2) -> tuple[dict, dict]:
        """Fastest of ``reps`` noop writes per prefix: a prefix's first
        run also compiles its plan, which would blur small layers."""
        walls, rows = {}, {}
        for _ in range(reps):
            for name, plan in prefixes:
                wall, _ = timed(lambda: _noop(plan()))
                walls[name] = min(wall, walls.get(name, wall))
                rows[name] = last_sql_rows(self.spark)
        return walls, rows

    def trace_layers(self, jobs: dict) -> dict:
        """Layer metrics of one traced pass. ``jobs`` holds one full job
        of each workload (their outputs give the output-side counts);
        the cumulative prefix walls give each layer's self time and the
        plan-node row counts give the input-side counts."""
        self._group()
        fw, frows = self._prefix_walls(self._flagship_prefixes(self.pages))
        dw, _ = self._prefix_walls(self._density_prefixes(self.points))
        tiles = jobs["flagship"]["digest"]
        candidates = frows["pip"]["BroadcastHashJoin"][0]
        out = {
            "pages.scan_s": fw["scan"],
            "extract.extract_points.self_s": fw["extract"] - fw["scan"],
            "extract.points_out": frows["extract"]["MapInArrow"][0],
            "joins.pip_join.self_s": fw["pip"] - fw["extract"],
            "joins.pip_join.candidates": candidates,
            "joins.pip_join.hits": tiles["hits"],
            "joins.pip_join.refine_yield": tiles["hits"] / candidates,
            "cells.with_tile.agg_self_s": fw["agg"] - fw["pip"],
            "cells.tiles_out": tiles["rows"],
            "density.eps_pairs.self_s": dw["eps_pairs"] - dw["scan"],
            "density.eps_pairs.pairs": jobs["skewed_density"]["digest"]["pairs"],
            "density.density_classify.self_s": dw["classify"] - dw["eps_pairs"],
        }
        out.update({f"runtime.{k}": v
                    for k, v in jobs["checkpoint_resume"]["runtime"].items()})
        return out
