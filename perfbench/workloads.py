"""The three workloads: set-up, one pass, and the per-layer figures of a pass.

A pass is a fixed list of operations.  Each program call in it runs inside a
span that is a direct child of the pass span, and its output is checked after
the span closes, so checks are not timed.  An operation whose call raises or
whose output check fails counts as failed; later operations of the pass that
need its output count as failed too, so every pass attempts the same number.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import traceback

import numpy as np

import inputs
import reference
from spans import durations

# crawl_pagerank: PageRank runs PR_SUPERSTEPS supersteps, is stopped by an
# exception raised from on_superstep after PR_STOP_AT, then resumed
PR_SUPERSTEPS = 4
PR_STOP_AT = 2
# rmat_frontier: a superstep is "tail" when its input frontier is at most
# the engine's sparse-join threshold, max(1024, n/64)
TAIL_FLOOR = 1024
# rmat_frontier: PageRankDelta's convergence depth swings with the seed
# (13 to 27 supersteps on the first twelve seeds), so it runs a fixed
# number, below every seed's depth; components and label propagation run
# to their fixpoint, which the exact checks need
PRD_SUPERSTEPS = 10
# rmat_frontier warms up with this many supersteps of each iterative app
# and one triangle count: a full warm-up pass would cost as much as the
# timed pass, and the run budget has room for one of them
WARMUP_SUPERSTEPS = 1
# media_decode: JPEG is lossy; decoded pixels must reach this PSNR
JPEG_PSNR_FLOOR_DB = 30.0

ENGINE_APPS = ("pagerank", "components", "label_propagation", "pagerank_delta")
# corpus format -> (ligra_spark.functions module, decoder, per-layer metric)
CODECS = {
    "jpeg": ("jpeg", "decode_jpeg", "decode.jpeg_mb_per_s"),
    "webp": ("webp", "decode_webp", "decode.vp8l_mb_per_s"),
    "gif": ("gif", "decode_gif", "decode.gif_mb_per_s"),
    "png": ("png", "decode_png", "decode.png_mb_per_s"),
}
MB = 1e6


class Ops:
    """Counts a pass's operations and failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"[perfbench] operation failed: {name} {detail}", file=sys.stderr)

    def skip(self, names) -> None:
        for name in names:
            self.record(name, False, "(input missing: an earlier operation failed)")


def _call(tr, name: str, fn):
    """Run ``fn(span)`` in a span named ``name``.  Returns (value, span);
    the value is None when the call raised (the traceback goes to stderr
    and the caller counts the operation as failed)."""
    with tr.span(name) as rec:
        try:
            return fn(rec), rec
        except Exception:
            print(f"[perfbench] {name} raised:\n{traceback.format_exc(limit=4)}", file=sys.stderr)
            return None, rec


# ------------------------------------------------------------- crawl_pagerank
class _StopRun(Exception):
    pass


class CrawlPagerank:
    name = "crawl_pagerank"

    def inputs(self, bench: str, seed: int) -> dict:
        data = inputs.crawl_inputs(bench, seed)
        data["expected"] = reference.crawl_expected(data, PR_SUPERSTEPS)
        return data

    def setup(self, spark, data, tr) -> dict:
        with tr.span("setup.read_pages"):
            pages = spark.read.parquet(data["table"]).persist()
            pages.count()
        return {"pages": pages}

    def warm_up(self, spark, data, tr, state, scratch: str) -> None:
        """None: a warm-up pass costs twice what it saves the timed pass
        (measured: 11-15 s cold against 6-7 s warm), and the run budget
        has no room for it."""

    def run_pass(self, spark, data, tr, state, scratch: str, ops: Ops) -> None:
        from pyspark.sql import functions as F

        from ligra_spark.apps import pagerank
        from ligra_spark.checkpoint import CheckpointManager
        from ligra_spark.extract import extracted_pages
        from ligra_spark.ingest import build_link_graph

        from spans import TimedCheckpoints

        pages, exp, n = state["pages"], data["expected"], data["n"]

        def extract(rec):
            rows = (
                extracted_pages(pages)
                .select("url", "extracted_text", F.size("links").alias("links"))
                .collect()
            )
            rec["links"] = sum(r["links"] for r in rows)
            return rows

        def ingest(rec):
            g, dictionary = build_link_graph(spark, pages)
            rec["graph"] = {"n": g.n, "m": g.m}
            return g, dictionary

        # one operation: extraction and build_link_graph, checked together
        ext, _ = _call(tr, "extract.extracted_pages", extract)
        built, _ = _call(tr, "ingest.build_link_graph", ingest)
        if ext is None or built is None:
            ops.record("ingest", False, "(a call raised)")
            ops.skip(["pagerank", "resume"])
            if built is not None:
                built[0].unpersist()
                built[1].unpersist()
            return
        g, dictionary = built
        ok, why = self._check_ingest(data, ext, g, dictionary)
        ops.record("ingest", ok, why)

        ckpt_root = os.path.join(scratch, "checkpoints")
        shutil.rmtree(ckpt_root, ignore_errors=True)
        mgr = TimedCheckpoints(CheckpointManager(spark, ckpt_root), tr)

        def stop(it, info):
            if it == PR_STOP_AT:
                raise _StopRun()

        def first_leg(rec):
            try:
                pagerank(g, max_iters=PR_SUPERSTEPS, epsilon=0.0, checkpoint_mgr=mgr,
                         on_superstep=tr.superstep_recorder(rec, g.n, then=stop))
            except _StopRun:
                return mgr.latest_step("pagerank")
            raise RuntimeError("pagerank ran past the stop superstep")

        def resume(rec):
            scores, it = pagerank(g, max_iters=PR_SUPERSTEPS, epsilon=0.0, checkpoint_mgr=mgr,
                                  resume=True, on_superstep=tr.superstep_recorder(rec, g.n))
            return scores.toPandas(), it

        stopped, _ = _call(tr, "engine.pagerank", first_leg)
        if stopped is None:
            ops.record("pagerank", False, "(raised)")
            ops.skip(["resume"])
        else:
            ops.record("pagerank", stopped == PR_STOP_AT, f"latest_step={stopped}")
            res, rec = _call(tr, "engine.pagerank.resume", resume)
            ok, why = res is not None, "(raised)"
            if ok:
                pdf, it = res
                got = np.zeros(n)
                got[pdf["id"].to_numpy()] = pdf["rank"].to_numpy()
                latest = mgr.latest_step("pagerank")
                ok = (
                    it == PR_SUPERSTEPS
                    and latest == PR_SUPERSTEPS
                    and len(pdf) == n
                    and np.allclose(got, exp["pagerank"], rtol=1e-6, atol=1e-12)
                )
                why = f"supersteps={it} latest_step={latest}"
            ops.record("resume", ok, why)
            size = sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(ckpt_root)
                for f in files
            )
            rec["checkpoint_bytes_per_step"] = size / max(len(mgr.steps("pagerank")), 1)
        shutil.rmtree(ckpt_root, ignore_errors=True)
        g.unpersist()
        dictionary.unpersist()

    def run_figures(self, data, tr) -> dict:
        return {}

    @staticmethod
    def _check_ingest(data, ext, g, dictionary) -> tuple[bool, str]:
        urls, rank, exp = data["urls"], data["url_rank"], data["expected"]
        want_text = dict(zip(urls, data["text"]))
        got_text = {r["url"]: r["extracted_text"] for r in ext}
        if got_text != want_text:
            bad = sum(got_text.get(u) != t for u, t in want_text.items())
            return False, f"extracted text differs for {bad} urls"
        d = dictionary.toPandas()
        want_ids = dict(zip(urls, rank.tolist()))
        if len(d) != len(urls) or any(want_ids.get(u) != i for u, i in zip(d["url"], d["id"])):
            return False, "dense ids are not the lexicographic url ranks"
        e = g.edges.select("src", "dst").toPandas()
        got = np.sort(e["src"].to_numpy() * g.n + e["dst"].to_numpy())
        want = np.sort(exp["src"] * g.n + exp["dst"])
        if not np.array_equal(got, want):
            return False, f"edge multiset differs ({got.size} vs {want.size} edges)"
        return True, ""

    def layer_figures(self, data, pass_spans: list[dict], children) -> dict:
        out = {}
        spans = {s["name"]: s for s in pass_spans}
        ext, ing = spans.get("extract.extracted_pages"), spans.get("ingest.build_link_graph")
        if ext is not None:
            out["extract.scan_s"] = _dur(ext)
            out["extract.links"] = ext.get("links", 0)
        if ing is not None:
            inner = children(ing)
            out["ingest.dictionary_s"] = _sum(inner, "ingest.build_vertex_dictionary")
            out["ingest.edges_s"] = _sum(inner, "ingest.build_edges") + _sum(inner, "graph.from_edges")
            out["ingest.shuffle_write_mb"] = _exec(ing, "shuffle_write_b") / MB
            out["graph.load_s"] = _sum(inner, "graph.from_edges")
            out["graph.edges"] = ing.get("graph", {}).get("m", 0)
            out["graph.vertices"] = ing.get("graph", {}).get("n", 0)
            out["ingest_pages_per_s"] = data["n"] / _dur(ing)
        legs = [spans[k] for k in ("engine.pagerank", "engine.pagerank.resume") if k in spans]
        if legs:
            out.update(_engine_figures("pagerank", legs, data["n"]))
            saves = [c for leg in legs for c in children(leg) if c["name"] == "checkpoint.save"]
            loads = [c for leg in legs for c in children(leg) if c["name"] == "checkpoint.load"]
            out["checkpoint.saves"] = len(saves)
            out["checkpoint.save_s"] = sum(_dur(c) for c in saves)
            out["checkpoint.load_s"] = sum(_dur(c) for c in loads)
        if len(legs) == 2 and ing is not None:
            m = ing.get("graph", {}).get("m", 0)
            out["pagerank_edges_per_s"] = m * PR_SUPERSTEPS / sum(_dur(s) for s in legs)
            out["resume_s"] = _dur(legs[1])
            step_mb = legs[1].get("checkpoint_bytes_per_step", 0) / MB
            out["checkpoint.step_mb"] = step_mb
            out["checkpoint_mb"] = step_mb
        return out


# -------------------------------------------------------------- rmat_frontier
class RmatFrontier:
    name = "rmat_frontier"

    def inputs(self, bench: str, seed: int) -> dict:
        data = inputs.rmat_inputs(bench, seed)
        data["expected"] = reference.rmat_expected(data, PRD_SUPERSTEPS)
        return data

    def setup(self, spark, data, tr) -> dict:
        from ligra_spark.graph import LinkGraph

        with tr.span("graph.from_parquet"):
            g = LinkGraph.from_parquet(spark, data["table"], n=data["n"], symmetric=True)
        with tr.span("graph.materialize"):
            g.materialize()
        return {"graph": g}

    def warm_up(self, spark, data, tr, state, scratch: str) -> None:
        from ligra_spark.apps import components, label_propagation, pagerank_delta, triangle_count

        g = state["graph"]
        for app in (components, label_propagation, pagerank_delta):
            with tr.span(f"warmup.{app.__name__}"):
                app(g, max_iters=WARMUP_SUPERSTEPS)[0].toPandas()
        with tr.span("warmup.triangle_count"):
            triangle_count(g)

    def run_pass(self, spark, data, tr, state, scratch: str, ops: Ops) -> None:
        from ligra_spark.apps import components, label_propagation, pagerank_delta, triangle_count

        g, exp, n = state["graph"], data["expected"], data["n"]

        def labels(app, col):
            def run(rec):
                df, _ = app(g, on_superstep=tr.superstep_recorder(rec, n))
                pdf = df.toPandas()
                out = np.full(n, -1, dtype=np.int64)
                out[pdf["id"].to_numpy()] = pdf[col].to_numpy()
                return out

            return run

        for name, app, col in (
            ("components", components, "component"),
            ("label_propagation", label_propagation, "label"),
        ):
            got, _ = _call(tr, f"engine.{name}", labels(app, col))
            ops.record(name, got is not None and np.array_equal(got, exp["components"]))

        def prd(rec):
            df, _ = pagerank_delta(g, max_iters=PRD_SUPERSTEPS, on_superstep=tr.superstep_recorder(rec, n))
            pdf = df.toPandas()
            out = np.full(n, np.nan)
            out[pdf["id"].to_numpy()] = pdf["rank"].to_numpy()
            return out

        got, _ = _call(tr, "engine.pagerank_delta", prd)
        ops.record(
            "pagerank_delta",
            got is not None and np.allclose(got, exp["pagerank_delta"], rtol=1e-6, atol=1e-12),
        )

        def tri(rec):
            rec["count"] = triangle_count(g)
            return rec["count"]

        got, _ = _call(tr, "apps.triangle_count", tri)
        ops.record("triangle_count", got == exp["triangles"], f"{got} != {exp['triangles']}")

    def run_figures(self, data, tr) -> dict:
        """The graph is loaded once per set-up, not per pass."""
        loads = zip(durations(tr.spans, "graph.from_parquet"), durations(tr.spans, "graph.materialize"))
        return {
            "graph.load_s": statistics.median(a + b for a, b in loads),
            "graph.edges": int(data["src"].size),
            "graph.vertices": data["n"],
        }

    def layer_figures(self, data, pass_spans: list[dict], children) -> dict:
        out = {}
        spans = {s["name"]: s for s in pass_spans}
        for app in ENGINE_APPS[1:]:
            if f"engine.{app}" in spans:
                s = spans[f"engine.{app}"]
                out.update(_engine_figures(app, [s], data["n"]))
                out[f"{app}_s"] = _dur(s)
        tri = spans.get("apps.triangle_count")
        if tri is not None:
            out["triangle_s"] = _dur(tri)
            out["triangle.count"] = tri.get("count", 0)
            out["triangle.shuffle_write_mb"] = _exec(tri, "shuffle_write_b") / MB
            out["triangle.task_s"] = _exec(tri, "task_ms") / 1e3
            out["triangle.tasks"] = _exec(tri, "tasks")
        return out


# --------------------------------------------------------------- media_decode
class MediaDecode:
    name = "media_decode"

    def inputs(self, bench: str, seed: int) -> dict:
        data = inputs.media_inputs(bench, seed)
        # the cached corpus is the one whose digest was recorded
        data["intact"] = inputs.corpus_sha256(data["payloads"]) == data["sha256"]
        return data

    def setup(self, spark, data, tr) -> dict:
        from pyspark.sql import functions as F

        slots = spark.sparkContext.defaultParallelism
        with tr.span("setup.read_media"):
            # one partition per slot, each holding every slot-th image,
            # so every task decodes the same format mix
            media = (
                spark.read.parquet(data["table"])
                .withColumn("slot", F.col("media_id") % slots)
                .repartitionByRange(slots, "slot")
                .drop("slot")
                .persist()
            )
            media.count()
        return {"media": media}

    def warm_up(self, spark, data, tr, state, scratch: str) -> None:
        self.run_pass(spark, data, tr, state, scratch, Ops())

    def run_pass(self, spark, data, tr, state, scratch: str, ops: Ops) -> None:
        from ligra_spark.functions.multimodal import decode_images

        rows, _ = _call(tr, "functions.decode_images", lambda rec: decode_images(state["media"]).collect())
        if rows is None:
            ops.skip([f"decode:{i}" for i in range(data["n"])])
            return
        got = {r["media_id"]: r for r in rows}
        for i, fmt in enumerate(data["format"]):
            r = got.get(i)
            ok, why = r is not None, "missing"
            if ok:
                img = np.frombuffer(r["pixels"], dtype=np.uint8).reshape(r["height"], r["width"], r["channels"])
                src = data["pixels"][i]
                if img.shape != src.shape:
                    ok, why = False, f"shape {img.shape} != {src.shape}"
                elif fmt == "jpeg":
                    p = reference.psnr(img, src)
                    ok, why = p >= JPEG_PSNR_FLOOR_DB, f"psnr {p:.1f} dB"
                else:
                    ok, why = np.array_equal(img, src), "pixels differ"
            ops.record(f"decode:{i}:{fmt}", ok, why)

    def run_figures(self, data, tr) -> dict:
        """Traced runs only: coded MB/s of each codec, called directly in
        this process on every payload of its format."""
        if not tr.traced:
            return {}
        import importlib

        out = {}
        for fmt, (module, fn, metric) in CODECS.items():
            decode = getattr(importlib.import_module(f"ligra_spark.functions.{module}"), fn)
            bufs = [p for p, f in zip(data["payloads"], data["format"]) if f == fmt]
            with tr.span(f"functions.{fn}", images=len(bufs)) as rec:
                for b in bufs:
                    decode(b)
            out[metric] = sum(map(len, bufs)) / MB / _dur(rec)
        return out

    def layer_figures(self, data, pass_spans: list[dict], children) -> dict:
        spans = {s["name"]: s for s in pass_spans}
        s = spans.get("functions.decode_images")
        if s is None:
            return {}
        return {
            "decode.images": data["n"],
            "decode_mb_per_s": float(data["payload_sizes"].sum()) / MB / _dur(s),
        }


WORKLOADS = {w.name: w for w in (CrawlPagerank(), RmatFrontier(), MediaDecode())}


# ------------------------------------------------------------------ helpers
def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _sum(spans, name: str) -> float:
    return sum(_dur(s) for s in spans if s["name"] == name)


def _exec(span: dict, key: str) -> float:
    return span.get("exec", {}).get(key, 0)


def _engine_figures(app: str, legs: list[dict], n: int) -> dict:
    """Superstep counts and times of one app over its call spans.  A
    superstep is in the tail when its input frontier (n for the first
    superstep of a call) is at most max(TAIL_FLOOR, n/64)."""
    tail_cut = max(TAIL_FLOOR, n // 64)
    steps = tail_steps = 0
    step_s = tail_s = 0.0
    for leg in legs:
        prev_t, frontier_in = leg["start"], n
        for s in leg.get("supersteps", []):
            dt = s["t"] - prev_t
            steps += 1
            step_s += dt
            if frontier_in <= tail_cut:
                tail_steps += 1
                tail_s += dt
            prev_t, frontier_in = s["t"], s["frontier_out"]
    return {
        f"{app}.supersteps": steps,
        f"{app}.superstep_s": step_s,
        f"{app}.tail_supersteps": tail_steps,
        f"{app}.tail_s": tail_s,
        f"{app}.shuffle_write_mb": sum(_exec(s, "shuffle_write_b") for s in legs) / MB,
        f"{app}.shuffle_read_mb": sum(_exec(s, "shuffle_read_b") for s in legs) / MB,
        f"{app}.tasks": sum(_exec(s, "tasks") for s in legs),
        f"{app}.task_s": sum(_exec(s, "task_ms") for s in legs) / 1e3,
        f"{app}.gc_s": sum(_exec(s, "gc_ms") for s in legs) / 1e3,
    }
