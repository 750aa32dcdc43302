"""Span tracing from outside the engine, plus executed-plan metrics.

Spans are kept in memory as (name, layer, start, end, parent, op id,
failed) and written once when the run ends. Library functions are traced by
swapping the module attributes that reference them for timing wrappers
(``Instrumenter``) -- the engine itself is never edited, and untraced rounds
run the original functions.

Spark plans are lazy, so a span around a builder call measures driver-side
planning only; actions get spans of their own. After each action
``PlanMetrics`` reads the SQL metrics of every execution the action ran from
the session's SQL status store (one DOT dump per execution), which splits
execution work into scan, shuffle, spill, Python-UDF and write figures.
"""

from __future__ import annotations

import functools
import html
import json
import re
import sys
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[list] = []  # [name, layer, start, end, parent, op_id, failed]
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        self.spans.append([name, layer, time.perf_counter(), None,
                           self._stack[-1] if self._stack else None, self.op_id, False])
        self._stack.append(idx)
        try:
            yield
        except BaseException:
            self.spans[idx][6] = True
            raise
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.perf_counter()

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, ())):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append((s[3] - s[2]) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s[0], "layer": s[1], "start": s[2], "end": s[3],
                                    "parent": s[4], "op": s[5], "failed": s[6]}) + "\n")


class Instrumenter:
    """Swap every reference to a traced function inside the engine package
    (``from x import f`` copies included) for its wrapper, and back."""

    def __init__(self, package: str) -> None:
        self.package = package
        self._swaps: list[tuple[object, str, object, object]] = []

    def add(self, module, attr: str, wrapper_factory) -> None:
        original = getattr(module, attr)
        wrapper = wrapper_factory(original)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(self.package):
                continue
            for name, value in list(vars(mod).items()):
                if value is original:
                    self._swaps.append((mod, name, original, wrapper))

    def install(self) -> None:
        for mod, name, _, wrapper in self._swaps:
            setattr(mod, name, wrapper)

    def uninstall(self) -> None:
        for mod, name, original, _ in self._swaps:
            setattr(mod, name, original)


# --------------------------------------------------------------------------
# executed-plan metrics
# --------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NODE_RE = re.compile(r'(\d+) \[id="node\d+" labelType="html" label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)" tooltip="(.*?)"\]', re.S)
_EDGE_RE = re.compile(r"^\s*(\d+)->(\d+);", re.M)
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
             "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPythonUDTF",
             "BatchEvalPythonUDTF", "AggregateInPandas", "WindowInPandas",
             "FlatMapGroupsInArrow", "FlatMapGroupsInPandasWithState")


def _value(text: str) -> float:
    tok = text.strip().split(" (")[0].split()
    if not tok:
        return 0.0
    num = float(tok[0].replace(",", ""))
    return num * _UNITS.get(tok[1], 1.0) if len(tok) > 1 else num


def parse_dot(dot: str) -> tuple[dict[int, tuple[str, str, dict[str, float]]], dict[int, list[int]]]:
    """({node id: (name, description, {metric: value})}, {node id: child ids})."""
    nodes = {}
    for nid, name, body, tip in _NODE_RE.findall(dot):
        items = body.split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if item.endswith("total (min, med, max (stageId: taskId))") and i + 1 < len(items):
                metrics[item.split(" total (")[0]] = _value(items[i + 1])
                i += 2
                continue
            if ": " in item:
                k, v = item.rsplit(": ", 1)
                try:
                    metrics[k] = _value(v)
                except ValueError:
                    pass
            i += 1
        nodes[int(nid)] = (name.strip(), html.unescape(tip), metrics)
    children: dict[int, list[int]] = defaultdict(list)
    for child, parent in _EDGE_RE.findall(dot):
        children[int(parent)].append(int(child))
    return nodes, children


def _rows_into(nodes, children, nid: int) -> float:
    """Rows entering ``nid`` on its streamed (non-broadcast) input."""
    for c in children.get(nid, ()):
        name, _, m = nodes.get(c, ("", "", {}))
        if name.startswith(("BroadcastExchange", "BroadcastQueryStage")):
            continue
        if "number of output rows" in m:
            return m["number of output rows"]
        return _rows_into(nodes, children, c)
    return 0.0


class PlanMetrics:
    """Reads SQL metrics of executions finished since the last call.

    ``verify_marker`` names a predicate (e.g. ``">= 0.5"``): rows entering
    a filter or join that applies it are counted as ``dedup_candidates``."""

    def __init__(self, spark, verify_marker: str | None = None) -> None:
        self.spark = spark
        self.verify_marker = verify_marker
        self.store = spark._jsparkSession.sharedState().statusStore()
        self.bus = spark.sparkContext._jsc.sc().listenerBus()
        self.seen = int(self.store.executionsCount())

    def harvest(self) -> dict[str, float]:
        self.bus.waitUntilEmpty()
        total = int(self.store.executionsCount())
        out: dict[str, float] = defaultdict(float)
        if total <= self.seen:
            return out
        conv = self.spark._jvm.scala.jdk.javaapi.CollectionConverters
        execs = conv.asJava(self.store.executionsList(self.seen, total - self.seen))
        self.seen = total
        for e in execs:
            eid = e.executionId()
            dot = self.store.planGraph(eid).makeDotFile(self.store.executionMetrics(eid))
            nodes, children = parse_dot(dot)
            for nid, (name, tip, m) in nodes.items():
                if name.startswith("Scan "):
                    out["scan_rows"] += m.get("number of output rows", 0.0)
                    out["scan_bytes"] += m.get("size of files read", 0.0)
                elif name == "Exchange":
                    out["shuffle_bytes"] += m.get("shuffle bytes written", 0.0)
                elif name.startswith("Execute ") or name.startswith("WriteFiles"):
                    out["bytes_written"] += m.get("written output", 0.0)
                    out["files_written"] += m.get("number of written files", 0.0)
                if name.split(" ")[0] in _PY_NODES:
                    out["udf_rows"] += m.get("number of output rows", 0.0)
                if (self.verify_marker and self.verify_marker in tip
                        and (name == "Filter" or "Join" in name)):
                    out["dedup_candidates"] += _rows_into(nodes, children, nid)
                out["spill_bytes"] += m.get("spill size", 0.0)
            out["executions"] += 1
        return out
