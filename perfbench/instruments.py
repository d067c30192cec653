"""Instruments: call spans, worker RSS, the Spark event log and the
single-process kernel pass. Everything is observed from outside the
engine: spans wrap the public calls the benchmark makes, the event log is
switched on with a submit-time conf, and the kernel pass wraps kernel
module functions in this process only."""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

KERNEL_MODULES = ("pdf_text", "html_extract", "multimodal", "jpeg", "png",
                  "preprocess", "glyphs", "table_model", "reocr",
                  "reading_order", "kie", "fuse", "anchor", "validators",
                  "style_merge", "document")


class Spans:
    """In-memory call spans. Each span tags the Spark jobs it starts with
    the local property `perfbench.span`, which the event log records."""

    def __init__(self, sc):
        self.sc = sc
        self.items: list[dict] = []
        self.stack: list[int] = []
        # the timed iteration being run, or a name for an untimed pass
        self.iteration: int | str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.items)
        rec = {"id": sid, "name": name, "iter": self.iteration,
               "parent": self.stack[-1] if self.stack else None,
               "start": time.time()}
        self.items.append(rec)
        self.stack.append(sid)
        self.sc.setLocalProperty("perfbench.span", str(sid))
        self.sc.setJobDescription(f"perfbench: {name}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self.stack.pop()
            parent = self.items[self.stack[-1]] if self.stack else None
            self.sc.setLocalProperty(
                "perfbench.span", str(parent["id"]) if parent else None)
            self.sc.setJobDescription(
                f"perfbench: {parent['name']}" if parent else None)

    def wrap(self, module, attr: str) -> None:
        """Record a span around every call of module.attr (traced run)."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"):
                return fn(*a, **kw)

        setattr(module, attr, spanned)


def span_descendants(items: list[dict], sid: int) -> set[int]:
    """The span and every span opened beneath it."""
    out = {sid}
    for s in items[sid + 1:]:
        if s["parent"] in out:
            out.add(s["id"])
    return out


def descendants() -> list[int]:
    """Live processes started, directly or not, by this process."""
    ppid = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    me, out = os.getpid(), []
    for pid in ppid:
        p = pid
        while p in ppid and p != me:
            p = ppid[p]
        if p == me and pid != me:
            out.append(pid)
    return sorted(out)


def peak_worker_rss_mb() -> float:
    """Highest VmHWM among this process's Python worker descendants: the
    worker daemon (`python -m <daemon module>`) and the workers it forks."""
    best = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv = fh.read().split(b"\0")
            if len(argv) < 3 or argv[1] != b"-m" or b"daemon" not in argv[2]:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return best / 1024.0


# --- Spark event log ----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Per-stage task metrics and per-job span tags from the event log."""
    stages: dict[int, dict] = defaultdict(lambda: {
        "scopes": set(), "tasks": [], "acc": defaultdict(float),
        "start": None, "end": None})
    jobs: dict[int, dict] = {}
    files = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
             if f.startswith("events") or f.startswith("local-")]
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    tag = (e.get("Properties") or {}).get("perfbench.span")
                    jobs[e["Job ID"]] = {
                        "span": int(tag) if tag is not None else None,
                        "stages": e["Stage IDs"]}
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages[si["Stage ID"]]
                    for r in si.get("RDD Info", []):
                        if r.get("Scope"):
                            st["scopes"].add(json.loads(r["Scope"])["name"])
                    st["start"] = si.get("Submission Time", 0) / 1000.0
                    st["end"] = si.get("Completion Time", 0) / 1000.0
                    for a in si.get("Accumulables", []):
                        name = a.get("Name", "")
                        if not name.startswith("internal."):
                            try:
                                st["acc"][name] += float(a["Value"])
                            except (TypeError, ValueError):
                                pass
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    if not m:
                        continue
                    sr = m.get("Shuffle Read Metrics", {})
                    stages[e["Stage ID"]]["tasks"].append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "shuffle_write": m.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0),
                        "records_read": sr.get("Total Records Read", 0),
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "output": m.get("Output Metrics", {})
                        .get("Bytes Written", 0),
                    })
    return {"stages": stages, "jobs": jobs}


def stages_in(log: dict, span_ids: set[int]) -> list[dict]:
    """Stages that ran for jobs started inside the given spans."""
    ids = {s for j in log["jobs"].values() if j["span"] in span_ids
           for s in j["stages"]}
    return [log["stages"][s] for s in sorted(ids)
            if s in log["stages"] and log["stages"][s]["tasks"]]


def busy_s(stages: list[dict]) -> float:
    """Wall time covered by the union of the stages' run intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted((st["start"], st["end"]) for st in stages):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    return total + ((cur_end - cur_start) if cur_end is not None else 0.0)


# --- single-process kernel pass ---------------------------------------------------


class SelfTimer:
    """Self time per kernel module: each public module-level function is
    wrapped, and a call's time minus the time of wrapped calls beneath it
    is charged to its module."""

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self._stack: list[float] = []
        self._patched: list[tuple] = []

    def _wrap(self, short: str, fn):
        stack, acc = self._stack, self.self_s

        @functools.wraps(fn)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            stack.append(0.0)
            try:
                return fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                acc[short] += dt - stack.pop()
                if stack:
                    stack[-1] += dt
        return timed

    def install(self) -> None:
        pkg = "horizon_ocr_python_spark"
        swap = {}
        for short in KERNEL_MODULES:
            mod = importlib.import_module(f"{pkg}.kernel.{short}")
            for name, fn in vars(mod).items():
                if (inspect.isfunction(fn) and fn.__module__ == mod.__name__
                        and not name.startswith("_")
                        and not inspect.isgeneratorfunction(fn)):
                    swap[id(fn)] = (fn, self._wrap(short, fn))
        # rebind every reference, including `from .x import f` copies
        import sys
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith(pkg + ".") or mod is None:
                continue
            for name, val in list(vars(mod).items()):
                if id(val) in swap and swap[id(val)][0] is val:
                    setattr(mod, name, swap[id(val)][1])
                    self._patched.append((mod, name, val))

    def uninstall(self) -> None:
        for mod, name, val in self._patched:
            setattr(mod, name, val)
        self._patched.clear()


def kernel_pass(pages: list[tuple]) -> dict:
    """Per-layer kernel metrics over `pages` (inputs.PAGE_COLUMNS rows).

    Pass 1, unwrapped: extract_document per page, the single-core baseline
    (docs/s and ms/doc per page kind). Pass 2: the extraction stage's own
    batch body over the same pages as one pandas batch, with kernel module
    functions wrapped for self time; what the body spends outside
    extract_document is row building."""
    import pandas as pd

    from horizon_ocr_python_spark.engine import extract
    from horizon_ocr_python_spark.kernel.document import extract_document

    if not pages:
        return {}
    kinds = ("html", "pdf", "image", "scanned_image", "scanned_pdf")
    out = {}
    per_kind = defaultdict(list)
    n_img = n_img_text = 0
    for url, ts, html, _text, lang, kind in pages:
        t0 = time.perf_counter()
        doc = extract_document(url, html, ts, lang)
        per_kind[kind].append(time.perf_counter() - t0)
        if doc["metadata"].get("file_type") == "image":
            n_img += 1
            n_img_text += bool(doc.get("raw_text"))
    total = sum(sum(v) for v in per_kind.values())
    out["kernel.docs_per_s_1core"] = len(pages) / total if total else 0.0
    for k in kinds:
        v = per_kind.get(k, [])
        out[f"kernel.ms_per_doc.{k}"] = 1000 * sum(v) / len(v) if v else 0.0
    out["kernel.image_ocr_accept_share"] = n_img_text / n_img if n_img else 0.0

    timer = SelfTimer()
    timer.install()
    try:
        batch = pd.DataFrame([{"url": p[0], "warc_ts": p[1], "html": p[2],
                               "lang": p[4]} for p in pages])
        t0 = time.perf_counter()
        for _ in extract._make_extract_fn(None)(iter([batch])):
            pass
        body_s = time.perf_counter() - t0
    finally:
        timer.uninstall()
    n = max(1, len(pages))
    in_kernel = sum(timer.self_s.values())
    out["extract.row_build_ms_per_doc"] = 1000 * (body_s - in_kernel) / n
    for short in KERNEL_MODULES:
        out[f"kernel.{short}.self_ms_per_doc"] = \
            1000 * timer.self_s.get(short, 0.0) / n
    return out

