"""Seeded benchmark inputs and their independent output twin.

The seed picks a page-id window; `geospark.pages.synth_pages_batch`
turns the window into the Zipf city-skewed pages table. Everything the
benchmark derives from it is built here, once per (seed, size), and
cached under the checkout's ``.perfbench_cache/`` directory:

- ``pages/part-NNN.parquet``: the pages table the program reads;
- ``points/part-NNN.parquet``: (pid, lat, lng) mentions of the first
  ``DENSITY_PARTS`` page files, the `skewed_density` input;
- ``oracle.json``: the expected outputs.

The expected outputs come from DuckDB, never from the code under test:
the mentions are parsed with DuckDB's own regex, PIP and tile ids use
the SQL twins in `geospark.geodata`, and the density labels come from
a grid self-join with exact haversine.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

# Input sizes. One page carries 0-3 mentions (1.5 on average).
N_PAGES = 200_000
PAGE_PARTS = 8  # Spark gives each small file its own task
CKPT_PARTS = 2  # checkpoint_resume reads the first 2 page files
DENSITY_PARTS = 2  # skewed_density reads the mentions of the first 2 parts,
POINT_FILES = 4  # written as 4 files so that every core gets a task
EPS_M = 400.0
MIN_PTS = 8
TILE_ZOOM = 8
SEED_WINDOW = 1 << 32  # page ids of window w are w * 2^32 + [0, N_PAGES)
N_WINDOWS = 1 << 20  # keeps pid = page_id * 4 + point_id inside int64
DIGEST_MOD = 1_000_000_007
KEEP_INPUTS = 12  # cached (seed, size) entries kept; older ones are evicted

_COORD_RE = r"coord: (-?\d+\.\d{6}), (-?\d+\.\d{6})"


def page_files(root: Path) -> list[str]:
    return [str(root / "pages" / f"part-{i:03d}.parquet") for i in range(PAGE_PARTS)]


def point_files(root: Path) -> list[str]:
    return [str(root / "points" / f"part-{i:03d}.parquet")
            for i in range(POINT_FILES)]


def window(seed: int) -> int:
    """The page-id window of ``seed``: any integer, negative or beyond
    N_WINDOWS too, folds into [0, N_WINDOWS)."""
    return seed % N_WINDOWS


def input_dir(cache: Path, seed: int) -> Path:
    return cache / "inputs" / (f"w{window(seed)}_n{N_PAGES}_p{PAGE_PARTS}_c{CKPT_PARTS}"
                               f"_d{DENSITY_PARTS}x{POINT_FILES}_e{EPS_M:g}_m{MIN_PTS}")


def _write_pages(root: Path, seed: int) -> None:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from geospark.pages import synth_pages_batch

    base = np.uint64(window(seed) * SEED_WINDOW)
    for i, path in enumerate(page_files(root)):
        ids = np.arange(i * N_PAGES // PAGE_PARTS, (i + 1) * N_PAGES // PAGE_PARTS,
                        dtype=np.uint64) + base
        pq.write_table(pa.Table.from_batches([synth_pages_batch(ids)]), path)


def prepare(cache: Path, seed: int) -> tuple[Path, dict]:
    """Return (input dir, oracle) for ``seed``, building them if the
    cache lacks them. A build goes to a temporary directory that is
    renamed into place only when complete."""
    root = input_dir(cache, seed)
    if not (root / "oracle.json").is_file():
        tmp = root.with_name(root.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        (tmp / "pages").mkdir(parents=True)
        (tmp / "points").mkdir()
        _write_pages(tmp, seed)
        oracle = _twin(tmp, cache / "tmp")
        (tmp / "oracle.json").write_text(json.dumps(oracle, indent=1))
        shutil.rmtree(root, ignore_errors=True)
        tmp.rename(root)
        _evict(root.parent, keep=root)
    return root, json.loads((root / "oracle.json").read_text())


def _evict(inputs: Path, keep: Path) -> None:
    entries = sorted((p for p in inputs.iterdir() if p != keep),
                     key=lambda p: p.stat().st_mtime)
    for p in entries[: max(0, len(entries) - (KEEP_INPUTS - 1))]:
        shutil.rmtree(p, ignore_errors=True)


def input_bytes(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


# ---------------------------------------------------------------------------
# Digests shared by the twin and the benchmark's checks
# ---------------------------------------------------------------------------
def tiles_digest(rows) -> dict:
    """Order-independent digest of (area_id, tile_x, tile_y, n) rows."""
    rows = sorted(tuple(int(v) for v in r) for r in rows)
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    return {"rows": len(rows), "hits": sum(r[3] for r in rows), "sha": h}


def labels_digest(rows) -> dict:
    """Digest of per-label (label, count, Σpid mod p, Σn_neighbors,
    Σ(pid·65599 + n_neighbors) mod p) aggregate rows."""
    by = {str(r[0]): [int(v) for v in r[1:]] for r in rows}
    return {
        "rows": sum(v[0] for v in by.values()),
        "pairs": sum(v[2] for v in by.values()) // 2,
        "labels": {k: by[k] for k in sorted(by)},
    }


# ---------------------------------------------------------------------------
# DuckDB twin
# ---------------------------------------------------------------------------
def _twin(root: Path, tmp: Path) -> dict:
    import duckdb

    from geospark import geodata as G

    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{tmp}'")
        con.execute("SET threads = 4")
        pages = ", ".join(f"'{f}'" for f in page_files(root))
        con.execute(f"""
            CREATE TEMP TABLE m AS
            SELECT CAST(regexp_extract(filename, 'part-([0-9]+)[.]parquet$', 1)
                        AS INT) AS part,
                   CAST(regexp_extract(url, '/page/([0-9]+)$', 1) AS BIGINT) AS page_id,
                   regexp_extract_all(text, '{_COORD_RE}', 1) AS la,
                   regexp_extract_all(text, '{_COORD_RE}', 2) AS ln
            FROM read_parquet([{pages}], filename = true)
        """)
        con.execute("""
            CREATE TEMP TABLE pts AS
            SELECT part, page_id, page_id * 4 + unnest(range(len(la))) AS pid,
                   CAST(unnest(la) AS DOUBLE) AS lat,
                   CAST(unnest(ln) AS DOUBLE) AS lng
            FROM m
        """)
        for i, path in enumerate(point_files(root)):
            con.execute(f"COPY (SELECT pid, lat, lng FROM pts WHERE part < {DENSITY_PARTS} "
                        f"AND page_id % {POINT_FILES} = {i}) TO '{path}' (FORMAT parquet)")
        n_points = con.execute("SELECT count(*) FROM pts").fetchone()[0]

        hits = []
        for area in G.demo_areas():
            sql = G.area_pip_sql("lat", "lng", area.outers, area.inners)
            lats = [p[0] for r in area.outers for p in r]
            lngs = [p[1] for r in area.outers for p in r]
            hits.append(
                f"SELECT {area.area_id} AS area_id, part, lat, lng FROM pts "
                f"WHERE lat BETWEEN {min(lats) - 1e-6!r} AND {max(lats) + 1e-6!r} "
                f"AND lng BETWEEN {min(lngs) - 1e-6!r} AND {max(lngs) + 1e-6!r} "
                f"AND {sql}"
            )
        con.execute(f"""
            CREATE TEMP TABLE hits AS
            SELECT area_id, part, {G.tile_x_sql('lng', TILE_ZOOM)} AS tx,
                   {G.tile_y_sql('lat', TILE_ZOOM)} AS ty
            FROM ({' UNION ALL '.join(hits)})
        """)
        tiles, tiles_ckpt = (
            con.execute("SELECT area_id, tx, ty, count(*) FROM hits "
                        f"WHERE part < {n} GROUP BY ALL").fetchall()
            for n in (PAGE_PARTS, CKPT_PARTS))

        where = f"part < {DENSITY_PARTS}"
        dens = _density_twin(con, where)
        n_density = con.execute(f"SELECT count(*) FROM pts WHERE {where}").fetchone()[0]
    finally:
        con.close()
    return {
        "n_pages": N_PAGES,
        "n_ckpt_pages": CKPT_PARTS * N_PAGES // PAGE_PARTS,
        "n_points": int(n_points),
        "n_density_points": int(n_density),
        "tiles": tiles_digest(tiles),
        "tiles_ckpt": tiles_digest(tiles_ckpt),
        "density": labels_digest(dens),
    }


def _density_twin(con, where: str) -> list:
    """DBSCAN labels by a uniform lat/lng grid self-join. A cell is at
    least one eps wide in latitude and, up to |lat| 80, in longitude, so
    every pair within eps lies in 3x3 neighbouring cells; longitude
    cells wrap at the antimeridian."""
    import math

    from geospark import geodata as G

    max_lat = con.execute(f"SELECT max(abs(lat)) FROM pts WHERE {where}").fetchone()[0]
    if max_lat > 80.0:
        raise ValueError(f"density twin assumes |lat| <= 80, got {max_lat}")
    h = math.degrees(EPS_M / 6371000.0) * 1.01
    ncx = int(360.0 // (h / math.cos(math.radians(80.0))))
    w = 360.0 / ncx
    hav = G.haversine_sql("a.lat", "a.lng", "b.lat", "b.lng")
    return con.execute(f"""
        WITH p AS (
            SELECT pid, lat, lng,
                   CAST(floor((lat + 90.0) / {h!r}) AS BIGINT) AS cy,
                   CAST(floor((lng + 180.0) / {w!r}) AS BIGINT) % {ncx} AS cx
            FROM pts WHERE {where}
        ),
        probe AS (
            SELECT pid, lat, lng, cy + dy AS cy, (cx + dx + {ncx}) % {ncx} AS cx
            FROM p, (SELECT unnest([-1, 0, 1]) AS dy),
                    (SELECT unnest([-1, 0, 1]) AS dx)
        ),
        e AS (
            SELECT a.pid AS pid, b.pid AS qid
            FROM probe a JOIN p b ON a.cy = b.cy AND a.cx = b.cx
            WHERE a.pid < b.pid AND {hav} <= {EPS_M!r}
        ),
        sym AS (SELECT pid AS id, qid AS nb FROM e
                UNION ALL SELECT qid, pid FROM e),
        cnt AS (
            SELECT p.pid AS id, COALESCE(c.n, 0) AS n_neighbors
            FROM p LEFT JOIN (SELECT id, count(*) AS n FROM sym GROUP BY 1) c
              ON p.pid = c.id
        ),
        core AS (SELECT id FROM cnt WHERE n_neighbors + 1 >= {MIN_PTS}),
        hcn AS (SELECT DISTINCT s.id FROM sym s JOIN core c ON s.nb = c.id),
        lab AS (
            SELECT cnt.id, n_neighbors,
                   CASE WHEN n_neighbors + 1 >= {MIN_PTS} THEN 'core'
                        WHEN hcn.id IS NOT NULL THEN 'border'
                        ELSE 'noise' END AS label
            FROM cnt LEFT JOIN hcn ON cnt.id = hcn.id
        )
        SELECT label, count(*), sum(id % {DIGEST_MOD}), sum(n_neighbors),
               sum(((id % {DIGEST_MOD}) * 65599 + n_neighbors) % {DIGEST_MOD})
        FROM lab GROUP BY 1
    """).fetchall()
