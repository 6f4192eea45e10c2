"""The benchmark's workloads: seeded inputs, timed operations, output checks.

Both workloads are one closed-loop client in one Spark session. A cycle
is the workload's timed operations; cycles repeat until the run's seconds
are spent (at least one cycle).

* ``export_skewed`` — seeded scenario-S pages (90 % of rows in one
  0.001-degree hot cell, ``sources.pages.synthesize_pages``) written to
  parquet in set-up. A cycle is one full ``run_export`` into a fresh
  directory, root bounds pinned to the scenario's nominal extent, with
  ``use_clustering``, ``use_i3dm``,
  ``max_features_per_tile=1000`` and ``max_level=14``: the deep descent
  into the hot cell and the salted k-means LOD reduction run on top of
  tiling, encode, sinks and checkpoints. No reads: on a clustered export
  the stage-3 checkpoint holds one row per content level of an instance,
  so ``query_bbox_summary`` counts instances several times.
* ``append_serve`` — set-up exports scenario-A pages (the reference's
  50x50 grid, ``sources.pages.pages_df_distributed``) without clustering.
  A cycle is one ``incremental_append`` of a 1 % batch of new urls placed
  in a seeded interior box, then a fixed number of ``query_bbox_summary``
  reads: half over the box the append just dirtied, half over clean
  regions.

The seed drives the scenario-S coordinates, the append boxes, the batch
coordinates and the read boxes; the program only ever sees the generated
frames. Every operation is checked, and a failed check counts as a failed
operation.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import zlib

import numpy as np


class Sizes:
    """Input sizes of one configuration (the full benchmark or the smoke)."""

    def __init__(self, n_base: int, n_skewed: int, reads_per_cycle: int) -> None:
        self.n_base = n_base
        self.n_batch = max(n_base // 100, 1)
        self.n_skewed = n_skewed
        self.reads_per_cycle = reads_per_cycle


#: Each run is one process paying 35-45 s of set-up (session start and the
#: cold first pass over each write path); a full measurement of 48 runs
#: within 3420 s leaves about 12 s of timed loop per run: one export, or
#: two to three append cycles. The skewed export's
#: cost is mostly fixed (per-job overhead of the deep descent), so 1.2k
#: rows, 1080 of them in the hot cell and past the 1000-feature tile
#: limit, already drive the descent and the k-means LOD reduction. The 6k
#: base gives 16 content tiles of 200-600 instances, so no run's 1 %
#: appends can overflow one and every append takes the same delta path
#: (with 10k, the four central tiles hold 900 and a seed-dependent share of
#: the appends re-split one, which made the append wall bimodal across
#: seeds).
FULL = Sizes(n_base=6_000, n_skewed=1_200, reads_per_cycle=2)
SMOKE = Sizes(n_base=2_000, n_skewed=1_200, reads_per_cycle=2)


def export_options(clustering: bool):
    from i3dm_export_spark.config import ExportOptions

    return ExportOptions(max_features_per_tile=1000, max_level=14,
                         use_i3dm=True, use_clustering=clustering)


def skewed_root_bounds():
    """Root bounds of scenario S's nominal extent, [34, 35] x [44, 45],
    through the program's own derivation. Pinned so the tile grid does
    not shift with each seed's sample extent: otherwise the hot cell
    straddles a different set of deep tile edges per seed, and the tile
    count (hence time and bytes per instance) varies across seeds."""
    from i3dm_export_spark.operators.extent import derive_root_bounds

    return derive_root_bounds(34.0, 44.0, 35.0, 45.0, 0.0, 0.0)


def grid_coords(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``pages_df_distributed``'s scenario-A arithmetic, in
    the same operation order so the doubles match bit for bit."""
    from i3dm_export_spark.sources.pages import (
        GRID_LAT0, GRID_LON0, GRID_N, GRID_SPAN,
    )

    step = GRID_SPAN / (GRID_N - 1)
    cell = ids % (GRID_N * GRID_N)
    wrap = ids // (GRID_N * GRID_N)
    lon = GRID_LON0 + (cell % GRID_N) * step + (wrap % 7) * (step / 11.0)
    lat = GRID_LAT0 + (cell // GRID_N) * step + (wrap % 5) * (step / 13.0)
    return lon, lat


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(root, fn))
    return total


def content_files(out_dir: str) -> int:
    """Content tiles on disk (the sinks' ``*.tmp.*`` residue excluded)."""
    return sum(1 for fn in os.listdir(os.path.join(out_dir, "content"))
               if ".tmp." not in fn)


def manifest_digest(out_dir: str) -> str:
    """sha256 over the sorted (relpath, content_md5) rows of the content
    sink manifest — equal digests mean byte-identical content files."""
    import pyarrow.parquet as pq

    m = pq.read_table(
        os.path.join(out_dir, "_checkpoints", "_sink_manifests", "content"),
        columns=["relpath", "content_md5"],
    ).to_pandas().sort_values("relpath")
    h = hashlib.sha256()
    for rel, md5 in zip(m["relpath"], m["content_md5"]):
        h.update(f"{rel}\t{md5}\n".encode())
    return h.hexdigest()


class Run:
    """State of one workload run: the session, the seeded generator and
    the log of operations and checks."""

    def __init__(self, spark, workload: str, seed: int, sizes: Sizes,
                 work_dir: str, log) -> None:
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.sizes = sizes
        self.work = work_dir
        self.log = log
        self.rng = np.random.default_rng([seed, zlib.crc32(workload.encode())])
        self.ops: list[dict] = []
        self.out_dir: str | None = None
        self.lon = self.lat = None  # every instance in the current export
        self._next_id = 0
        self._export_no = 0
        self._digest: str | None = None

    # -- bookkeeping --------------------------------------------------------
    def _op(self, kind: str, call, verify):
        """One operation: ``call()`` is timed, ``verify(result) -> (ok,
        detail)`` is not. A raise or a failed check marks it failed."""
        wall, ok, detail = 0.0, False, {}
        try:
            t0 = time.perf_counter()
            out = call()
            wall = time.perf_counter() - t0
            ok, detail = verify(out)
        except Exception as e:  # the loop must record and go on
            import traceback

            traceback.print_exc()
            detail = {"error": repr(e)}
        rec = {"kind": kind, "wall_s": wall, "ok": bool(ok), **detail}
        self.ops.append(rec)
        if not ok:
            self.log(f"FAILED {kind}: {detail}")
        return rec

    def check(self, name: str, ok: bool, **detail) -> None:
        """An untimed output check, counted like an operation."""
        self.ops.append({"kind": f"check.{name}", "wall_s": 0.0,
                         "ok": bool(ok), **detail})
        if not ok:
            self.log(f"FAILED check {name}: {detail}")

    # -- set-up -------------------------------------------------------------
    def write_pages(self) -> None:
        """The workload's input pages, written to parquet by Spark, and the
        check that the parquet holds exactly the coordinates the other
        checks count against."""
        from i3dm_export_spark.sources import pages as P

        self.pages_path = os.path.join(self.work, "pages")
        if self.workload == "export_skewed":
            n = self.sizes.n_skewed
            pdf = P.synthesize_pages(n, "S", seed=self.seed)
            self.lon = pdf["lon"].to_numpy()
            self.lat = pdf["lat"].to_numpy()
            df = self.spark.createDataFrame(pdf, P.PAGES_SCHEMA).repartition(4)
        else:
            n = self.sizes.n_base
            self.lon, self.lat = grid_coords(np.arange(n, dtype=np.int64))
            df = P.pages_df_distributed(self.spark, n, scenario="A",
                                        partitions=4)
        df.write.mode("overwrite").parquet(self.pages_path)
        self._next_id = n

        import pyarrow.parquet as pq

        t = pq.read_table(self.pages_path, columns=["url", "lon", "lat"]) \
            .to_pandas().sort_values("url")
        ids = t["url"].str.rsplit("/", n=1).str[1].astype(np.int64).to_numpy()
        self.check("generator_coords",
                   bool(np.array_equal(ids, np.arange(n))
                        and np.array_equal(t["lon"].to_numpy(), self.lon)
                        and np.array_equal(t["lat"].to_numpy(), self.lat)))

    def export(self) -> None:
        """One full run_export of the pages into a fresh directory."""
        from i3dm_export_spark.plans import pipeline

        self._export_no += 1
        out = os.path.join(self.work, f"export{self._export_no}")
        pages = self.spark.read.parquet(self.pages_path)
        skewed = self.workload == "export_skewed"
        opts = export_options(skewed)
        bounds = skewed_root_bounds() if skewed else None
        n = len(self.lon)

        def verify(summary):
            on_disk = content_files(out)
            ok = (summary["n_instances"] == n
                  and summary["text_invariant_violations"] == 0
                  and summary["n_content_tiles"] == on_disk)
            return ok, {"n_instances": summary["n_instances"], "expected": n,
                        "n_content_tiles": summary["n_content_tiles"],
                        "content_files": on_disk}

        rec = self._op("export",
                       lambda: pipeline.run_export(pages, opts, out,
                                                   bounds=bounds),
                       verify)
        if rec["ok"]:
            digest = manifest_digest(out)
            if self._digest is None:
                self._digest = digest
            else:
                self.check("export_determinism", digest == self._digest,
                           digest=digest, first=self._digest)
        if self.out_dir and self.out_dir != out:
            shutil.rmtree(self.out_dir, ignore_errors=True)
        self.out_dir = out

    # -- append -------------------------------------------------------------
    def _extent(self) -> tuple[float, float, float, float]:
        """Raw lon/lat extent of the set-up input: appends must stay inside
        it (the base export derived its root bounds from it)."""
        n = self.sizes.n_base
        return (self.lon[:n].min(), self.lat[:n].min(),
                self.lon[:n].max(), self.lat[:n].max())

    def _append_box(self) -> tuple[float, float, float, float]:
        x0, y0, x1, y1 = self._extent()
        side = 0.04 * min(x1 - x0, y1 - y0)
        cx = self.rng.uniform(x0 + 0.1 * (x1 - x0), x1 - 0.1 * (x1 - x0) - side)
        cy = self.rng.uniform(y0 + 0.1 * (y1 - y0), y1 - 0.1 * (y1 - y0) - side)
        return cx, cy, cx + side, cy + side

    def _batch(self, box):
        """The next 1 % batch: new urls past every id used so far, placed
        uniformly in ``box``. Columns follow the pages schema."""
        import datetime as dt

        import pandas as pd

        from i3dm_export_spark.sources.pages import PAGES_SCHEMA

        nb = self.sizes.n_batch
        ids = np.arange(self._next_id, self._next_id + nb, dtype=np.int64)
        lon = self.rng.uniform(box[0], box[2], nb)
        lat = self.rng.uniform(box[1], box[3], nb)
        t0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
        pdf = pd.DataFrame({
            "url": [f"https://example.org/p/{k:08d}" for k in ids],
            "warc_ts": [t0 + dt.timedelta(seconds=int(k)) for k in ids],
            "html": [f"<html><body>doc {k}</body></html>".encode()
                     for k in ids],
            "text": [f"doc {k}" for k in ids],
            "lang": [["en", "fr", "de", "nl"][k % 4] for k in ids],
            "lon": lon, "lat": lat,
            "z": 0.0, "scale": 50.0, "yaw": 0.0, "pitch": 0.0, "roll": 0.0,
            "model": "tree.glb", "tags": None,
        })
        return ids, lon, lat, self.spark.createDataFrame(pdf, PAGES_SCHEMA)

    def append(self) -> tuple:
        """One 1 % append; returns the box it landed in."""
        from i3dm_export_spark.plans import incremental

        box = self._append_box()
        ids, lon, lat, batch = self._batch(box)

        def verify(res):
            on_disk = content_files(self.out_dir)
            ok = (res["delta_path"] is True
                  and res["n_content_tiles"] == on_disk
                  and res["n_new_instances"] == len(ids))
            return ok, {
                "n_new_instances": res["n_new_instances"],
                "n_dirty_tiles": res["n_dirty_tiles"],
                "n_content_tiles": res["n_content_tiles"],
                "content_files": on_disk,
                "delta_path": bool(res["delta_path"]),
                "stage3_linked": res.get("n_stage3_linked_files", 0),
                "stage3_rewritten": res.get("n_stage3_rewritten_files", 0),
                "phase_walls": res.get("phase_walls", {}),
            }

        rec = self._op(
            "append",
            lambda: incremental.incremental_append(batch, self.out_dir),
            verify,
        )
        if rec["ok"]:
            self._next_id += len(ids)
            self.lon = np.concatenate([self.lon, lon])
            self.lat = np.concatenate([self.lat, lat])
        return box

    # -- reads --------------------------------------------------------------
    def _clean_box(self, avoid) -> tuple[float, float, float, float]:
        x0, y0, x1, y1 = self._extent()
        while True:
            side = self.rng.uniform(0.05, 0.2) * min(x1 - x0, y1 - y0)
            cx = self.rng.uniform(x0, x1 - side)
            cy = self.rng.uniform(y0, y1 - side)
            box = (cx, cy, cx + side, cy + side)
            if box[2] < avoid[0] or box[0] > avoid[2] \
                    or box[3] < avoid[1] or box[1] > avoid[3]:
                return box

    def _dirty_box(self, box) -> tuple[float, float, float, float]:
        w = box[2] - box[0]
        pad = self.rng.uniform(-0.25, 0.25, 2) * w
        return (box[0] + pad[0], box[1] + pad[1],
                box[2] + pad[0], box[3] + pad[1])

    def read_boxes(self, dirty) -> list[tuple]:
        k = self.sizes.reads_per_cycle
        half = k // 2
        return ([self._dirty_box(dirty) for _ in range(half)]
                + [self._clean_box(dirty) for _ in range(k - half)])

    def read(self, box) -> dict:
        from i3dm_export_spark.plans import serve

        def verify(r):
            want = int(np.count_nonzero(
                (self.lon >= box[0]) & (self.lon <= box[2])
                & (self.lat >= box[1]) & (self.lat <= box[3])
            ))
            return r["n_instances"] == want, {
                "n_instances": r["n_instances"], "expected": want,
                "n_tiles": r["n_tiles"], "box": list(box),
            }

        return self._op(
            "read",
            lambda: serve.query_bbox_summary(self.spark, self.out_dir, box,
                                             max_listed=10),
            verify,
        )

    # -- workload shapes ----------------------------------------------------
    def setup(self) -> None:
        """Input synthesis and one untimed pass over each timed write path
        (the first execution pays codegen and worker start). Reads are
        not warmed: the first read's cold share is small and the same in
        every run."""
        t0 = time.perf_counter()
        self.write_pages()
        self.log(f"pages written in {time.perf_counter() - t0:.1f}s")
        self.export()
        self.log(f"warm-up export took {self.ops[-1]['wall_s']:.1f}s")
        if self.workload == "append_serve":
            self.append()

    def cycle(self) -> None:
        if self.workload == "export_skewed":
            self.export()
            return
        dirty = self.append()
        for box in self.read_boxes(dirty):
            self.read(box)

    def finish(self) -> None:
        """Storage figure and the fsck audit of the final export."""
        from i3dm_export_spark.plans.fsck import fsck_export

        self.final_stored_bytes = dir_bytes(self.out_dir)
        rep = fsck_export(self.spark, self.out_dir)
        self.check("fsck", rep["ok"], counts=rep["counts"])
