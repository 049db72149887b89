"""Span tracing for the benchmark's traced runs.

The benchmark wraps each layer's public functions at the name its
caller resolves (a module attribute or a class attribute), so the
program itself carries no tracing code. A span records its name, start,
end, parent and statement id; spans stay in memory and are written as
JSON when the run ends.

Spark work is attributed by job group: entering a span sets the
thread's job group to the span's index, and after each traced pass the
status store's job and stage lists map every new job to the innermost
span that launched it.

Py4J round trips are counted by wrapping the gateway client's
``send_command``, attributed to the current top-level span.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import time
from collections import Counter, defaultdict

#: layer name -> (module, attribute names); module paths are relative
#: to the package under test. ``None`` means every public function.
LAYER_FUNCS = {
    "plans.extract": ("plans.extract", ["extract_join_graph"]),
    "plans.schedule": ("engine", ["plan_schedule", "largest_root_tree",
                                  "join_order_dag", "execution_order_dag"]),
    "plans.catalyst_order": ("plans.catalyst_order", None),
    "rewrite.transfer": ("engine", ["apply_transfer"]),
    "dedup": ("operators.dedup", None),
    "similarity": ("operators.similarity", None),
    "cluster": ("operators.cluster", None),
}

#: layer name -> (module, class, method)
LAYER_METHODS = {
    "engine.sql": ("engine", "Engine", "sql"),
    "engine.reduce": ("engine", "Engine", "reduce"),
    "catalog.register": ("catalog", "Catalog", "register_views"),
}

TOP_LEVEL = ("construct", "execute", "sink")


class Tracer:
    def __init__(self, spark, pkg: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.pkg = pkg
        self.on = False
        self.stmt = None
        self.spans: list = []
        self.stack: list = []
        #: top-level span name -> py4j calls made while it was open
        self.py4j: Counter = Counter()
        #: free-form counters filled by return-value hooks
        self.counts: Counter = Counter()
        #: span index -> list of (jobs, tasks, input bytes, shuffle bytes)
        self.jobs: dict = defaultdict(lambda: [0, 0, 0, 0])
        self._seen_jobs: set = set()
        self._internal = 0
        self._undo: list = []

    # -- spans ---------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def _enter(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "stmt": self.stmt,
                           "parent": parent, "start": time.perf_counter(),
                           "end": None})
        self.stack.append(idx)
        self._set_group(idx)
        return idx

    def _exit(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)

    def _set_group(self, idx) -> None:
        self._internal += 1
        try:
            if idx is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", f"pb{idx}")
        finally:
            self._internal -= 1

    # -- installation ---------------------------------------------------

    def install(self) -> None:
        """Wrap every layer entry point and the py4j client."""
        for modname, _ in LAYER_FUNCS.values():
            importlib.import_module(f"{self.pkg}.{modname}")
        mods = {name: mod for name, mod in sys.modules.items()
                if name == self.pkg or name.startswith(self.pkg + ".")}
        for layer, (modname, attrs) in LAYER_FUNCS.items():
            mod = sys.modules[f"{self.pkg}.{modname}"]
            names = attrs or [a for a, v in vars(mod).items()
                              if callable(v) and not a.startswith("_")
                              and getattr(v, "__module__", None)
                              == mod.__name__
                              and not isinstance(v, type)]
            for a in names:
                fn = getattr(mod, a)
                wrapped = self._wrap(layer, fn, _HOOKS.get(layer))
                # every module-level name bound to this function object
                for m in mods.values():
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            self._patch(m, k, wrapped)
        for layer, (modname, cls, meth) in LAYER_METHODS.items():
            klass = getattr(sys.modules[f"{self.pkg}.{modname}"], cls)
            fn = klass.__dict__[meth]
            self._patch(klass, meth, self._wrap(layer, fn, _HOOKS.get(layer)))
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*a, **k):
            if self.on and not self._internal and self.stack:
                top = self.spans[self.stack[0]]["name"]
                self.py4j[top] += 1
            return send(*a, **k)

        client.send_command = counted
        self._undo.append(lambda: delattr(client, "send_command"))

    def uninstall(self) -> None:
        for undo in reversed(self._undo):
            undo()
        self._undo.clear()

    def _patch(self, owner, attr: str, new) -> None:
        old = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)
        setattr(owner, attr, new)
        self._undo.append(lambda: setattr(owner, attr, old))

    def _wrap(self, layer: str, fn, hook):
        @functools.wraps(fn)
        def wrapper(*a, **k):
            if not self.on:
                return fn(*a, **k)
            idx = self._enter(layer)
            try:
                out = fn(*a, **k)
            finally:
                self._exit(idx)
            if hook is not None:
                hook(self, a, out)
            return out
        return wrapper

    # -- Spark attribution ----------------------------------------------

    def collect_jobs(self) -> None:
        """Attribute every job finished since the last call to the span
        whose job group launched it (stage bytes counted once, by the
        first job that ran the stage)."""
        self._internal += 1
        try:
            store = self.sc._jsc.sc().statusStore()
            gw = self.sc._gateway
            stages = {}
            it = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.ArrayList()).iterator()
            while it.hasNext():
                st = it.next()
                if st.status().toString() != "COMPLETE":
                    continue
                stages[st.stageId()] = (st.numCompleteTasks(),
                                        st.inputBytes(),
                                        st.shuffleWriteBytes())
            it = store.jobsList(None).iterator()
            while it.hasNext():
                job = it.next()
                jid = job.jobId()
                if jid in self._seen_jobs:
                    continue
                self._seen_jobs.add(jid)
                group = job.jobGroup()
                if not group.isDefined() or not group.get().startswith("pb"):
                    continue
                acc = self.jobs[int(group.get()[2:])]
                acc[0] += 1
                sit = job.stageIds().iterator()
                while sit.hasNext():
                    tasks, inb, shw = stages.pop(sit.next(), (0, 0, 0))
                    acc[1] += tasks
                    acc[2] += inb
                    acc[3] += shw
        finally:
            self._internal -= 1

    # -- reduction --------------------------------------------------------

    def _ancestors(self, idx: int):
        p = self.spans[idx]["parent"]
        while p is not None:
            yield self.spans[p]["name"]
            p = self.spans[p]["parent"]

    def layer_totals(self) -> dict:
        """name -> {"s", "calls", "self_s", "jobs", "tasks", "in_b",
        "shuffle_b"}. ``s`` and ``calls`` count only outermost spans of
        a name, so recursion inside a layer is not counted twice; jobs
        roll up to every enclosing layer."""
        out: dict = defaultdict(Counter)
        child_time: Counter = Counter()
        for sp in self.spans:
            if sp["end"] is not None and sp["parent"] is not None:
                child_time[sp["parent"]] += sp["end"] - sp["start"]
        for idx, sp in enumerate(self.spans):
            if sp["end"] is None:
                continue
            dur = sp["end"] - sp["start"]
            names = list(self._ancestors(idx))
            agg = out[sp["name"]]
            agg["self_s"] += dur - child_time[idx]
            if sp["name"] not in names:
                agg["s"] += dur
                agg["calls"] += 1
            jobs, tasks, inb, shw = self.jobs.get(idx, (0, 0, 0, 0))
            for layer in {sp["name"], *names}:
                out[layer]["jobs"] += jobs
                out[layer]["tasks"] += tasks
                out[layer]["in_b"] += inb
                out[layer]["shuffle_b"] += shw
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        rows = [{"id": i, "name": s["name"], "stmt": s["stmt"],
                 "parent": s["parent"],
                 "start": round(s["start"] - t0, 6),
                 "end": round((s["end"] or s["start"]) - t0, 6)}
                for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump(rows, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self):
        if self.tracer.on:
            self.idx = self.tracer._enter(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx is not None:
            self.tracer._exit(self.idx)
        return False


# -- return-value hooks: counts read where the work happens ------------

def _on_extract(tr: Tracer, args, out) -> None:
    tr.counts["extract_bails"] += out is None or not hasattr(out, "edges")


def _on_schedule(tr: Tracer, args, out) -> None:
    tr.counts["ops_scheduled"] += len(getattr(out, "ops", ()) or ())


def _on_transfer(tr: Tracer, args, out) -> None:
    tr.counts["ops_applied"] += len(out.applied)
    tr.counts["ops_dropped"] += sum(out.drops.values())
    tr.counts["ops_planned"] += len(out.plan.ops)
    tr.counts["persisted"] += len(out.persisted)


def _on_sql(tr: Tracer, args, out) -> None:
    eng = args[0]
    tr.counts["sql_calls"] += 1
    tr.counts["engaged"] += bool(getattr(eng, "last_sql_rewritten", False))
    tr.counts["ceded"] += bool(getattr(eng, "last_cede", False))


_HOOKS = {
    "plans.extract": _on_extract,
    "plans.schedule": _on_schedule,
    "rewrite.transfer": _on_transfer,
    "engine.sql": _on_sql,
}
