"""The two workloads: their set-up, warm-up, timed loop and the
correctness checks that run outside the timed window.

* ``kg_stream`` drives the write path: ``run_incremental_pipeline
  (available_now=True)`` over seeded page drops, one closed-loop stream
  after another.  Its traced run also drives the batch build:
  ``run_pipeline`` over seeded pages on a fresh warehouse, then the
  same call on the committed warehouse (the resume phase).
* ``kg_query`` drives the ``__spark_entry__.queries()`` registry: one
  closed-loop client runs q17, q16, q38 and q18 in turn.

Every timed query forces full evaluation through a computed aggregate
(an order-independent md5 digest over every output column), never a
``count()`` the optimizer could answer without running the plan; the
pipeline and the stream commit every output to parquet.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import time

from perfbench import inputs, trace

# (layer module, registry query) in the order the client sends them
QUERIES = [
    ("closure", "q17_property_path"),
    ("cc", "q16_cc_components"),
    ("dedup", "q38_doc_dedup"),
    ("mentions", "q18_doc_mentions"),
]
QUERY_TABLES = ["nation", "part", "documents"]


def _short(query: str) -> str:
    return query.split("_", 1)[0]


# order-independent digests ------------------------------------------------

SEP, NULL = "\x1f", "\x00"


def spark_digest(df) -> tuple[int, int]:
    """(rows, sum of a 60-bit md5 prefix per row) — the timed action."""
    from pyspark.sql import functions as F

    row = F.concat_ws(
        SEP,
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(NULL))
            for c in sorted(df.columns)
        ],
    )
    h = F.conv(F.substring(F.md5(row), 1, 15), 16, 10).cast("decimal(38,0)")
    r = df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0]
    return int(r[0]), int(r[1] or 0)


def _fmt(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        raise TypeError("float columns have no engine-neutral text form")
    return str(v)


def rows_digest(cols: list[str], rows) -> tuple[int, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = 0
    for r in rows:
        s = SEP.join(_fmt(r[i]) for i in order)
        total += int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
    return len(rows), total


def _cpu_since(meter, r0: tuple) -> dict:
    """CPU seconds since ``r0`` (a ``meter.read()``): without JIT
    compilation, raw and divided by the host's slowdown over the
    window (the gated figure), and every part on its own."""
    (t0, c0), (t1, c1) = r0, meter.read()
    parts = {k: c1[k] - c0[k] for k in c1}
    raw = sum(parts.values()) - parts["jit"]
    slow = meter.probe.slowdown(t0, t1)
    return {"cpu_s": raw / slow, "raw_cpu_s": raw, "slowdown": slow,
            "jit_s": parts["jit"], "cpu_parts": parts}


# kg_query -----------------------------------------------------------------


class QueryWorkload:
    # part and documents rows as at sf0.1, so q17's closure walks the
    # same p_partkey div 2 tree, 15 levels deep, for every seed
    N_PARTS, N_DOCS = 20_000, 5_000
    # one round takes longer than the run's measuring window
    MIN_ROUNDS = 1
    # the warm-up round runs every query over small tables of the same
    # shape: the same plans compile, with less data to run them on
    WARM_PARTS, WARM_DOCS = 128, 200

    def __init__(self, spark, meter, work: str, seed: int):
        self.spark, self.meter, self.seed = spark, meter, seed
        self.sf_dir = os.path.join(work, "sf")
        self.warm_dir = os.path.join(work, "sf_warm")
        self.aux_dir = os.path.join(work, "oracle_aux")

    def generate(self) -> int:
        inputs.query_tables(self.sf_dir, self.seed, self.N_PARTS,
                            self.N_DOCS)
        inputs.query_tables(self.warm_dir, self.seed, self.WARM_PARTS,
                            self.WARM_DOCS)
        inputs.oracle_aux_tables(self.aux_dir, self.seed)
        return self.N_PARTS + self.N_DOCS + 25

    def _registry(self):
        # the registry's DuckDB twins are built together; the ones this
        # workload does not run read their inputs from the aux tables
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.aux_dir
        import __spark_entry__ as entry

        return entry

    def warmup(self) -> None:
        qs = self._registry().queries()
        for _, q in QUERIES:
            spark_digest(qs[q](self.spark, self.warm_dir))

    def run(self, seconds: float, tracer: trace.Tracer | None = None,
            rounds: int | None = None) -> list[dict]:
        """Closed loop: whole rounds of the queries, at least
        ``MIN_ROUNDS`` and until ``seconds`` have passed, or exactly
        ``rounds`` rounds."""
        qs = self._registry().queries()
        out: list[dict] = []
        for rnd in _loop(seconds, self.MIN_ROUNDS, rounds):
            for module, q in QUERIES:
                layer = f"{module}.{_short(q)}"
                rec = {"query": q, "layer": layer, "round": rnd}
                r0 = self.meter.read()
                try:
                    with (tracer.span(layer, job_group=f"{layer}#{rnd}")
                          if tracer else contextlib.nullcontext()):
                        rec["digest"] = spark_digest(
                            qs[q](self.spark, self.sf_dir)
                        )
                except Exception as ex:  # counted in failed, run goes on
                    rec["error"] = repr(ex)[:300]
                rec["s"] = time.perf_counter() - r0[0]
                rec.update(_cpu_since(self.meter, r0))
                out.append(rec)
        return out

    def check(self, execs: list[dict]) -> list[dict]:
        """Each execution against its DuckDB twin: row count and
        order-independent digest."""
        import duckdb

        oracles = self._registry().oracle_sql()
        con = duckdb.connect()
        for t in QUERY_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{self.sf_dir}/{t}.parquet'"
            )
        want = {}
        for _, q in QUERIES:
            cur = con.execute(oracles[q])
            cols = [d[0] for d in cur.description]
            want[q] = rows_digest(cols, cur.fetchall())
        con.close()
        return [
            {"check": f"{e['query']}#{e['round']}",
             "ok": e["digest"] == want[e["query"]],
             "got": e["digest"][0], "want": want[e["query"]][0]}
            for e in execs
            if "error" not in e
        ]


# kg_stream ----------------------------------------------------------------


@contextlib.contextmanager
def traced_pipeline(tracer: trace.Tracer, phase: str):
    """Spans around ``StageRecorder.run_stage``,
    ``Warehouse.resume_or_compute``, ``Warehouse.write`` and
    ``Warehouse.drop``.  Jobs of a stage's compute and commit run in
    job group ``<phase>:<stage>``; the lineage and metrics work of
    ``run_stage`` around it in ``<phase>:lineage.<stage>``; the
    ``fetch_state`` update in ``<phase>:storage.fetch_state``."""
    from arachne_spark.pipeline import FETCH_STATE
    from arachne_spark.plans.lineage import StageRecorder
    from arachne_spark.plans.storage import Warehouse

    def run_stage(orig):
        def f(self, name, compute, force=False, **kw):
            with tracer.span("lineage.run_stage", stage=name,
                             job_group=f"{phase}:lineage.{name}"):
                return orig(self, name, compute, force=force, **kw)
        return f

    def resume_or_compute(orig):
        def f(self, table, compute, force=False, **kw):
            with tracer.span("storage.resume_or_compute", stage=table,
                             job_group=f"{phase}:{table}"):
                return orig(self, table, compute, force=force, **kw)
        return f

    def storage_op(orig, what):
        def f(self, *a, **kw):
            table = kw.get("table", a[1] if what == "write" else a[0])
            group = (f"{phase}:storage.fetch_state"
                     if table.startswith(FETCH_STATE) else None)
            with tracer.span(f"storage.{what}", table=table,
                             job_group=group):
                return orig(self, *a, **kw)
        return f

    with trace.patched(StageRecorder, {"run_stage": run_stage}), \
            trace.patched(Warehouse, {
                "resume_or_compute": resume_or_compute,
                "write": lambda o: storage_op(o, "write"),
                "drop": lambda o: storage_op(o, "drop"),
            }):
        yield


@contextlib.contextmanager
def traced_state(tracer: trace.Tracer):
    """Spans around the ``TwoTierState`` calls the stream makes, with
    whether a compaction ran.  ``read_committed`` only builds the
    probe's plan (recovery, listing, schema); the probe's scan runs
    inside the batch's output write and is folded from the event log
    (``trace.scans``)."""
    from arachne_spark.streaming.incremental import TwoTierState

    def read_committed(orig):
        def f(self, sp, batch_id):
            with tracer.span("incremental.state.read_committed",
                             batch_id=batch_id):
                return orig(self, sp, batch_id)
        return f

    def write_delta(orig):
        def f(self, df, batch_id):
            with tracer.span("incremental.state.write_delta",
                             batch_id=batch_id):
                return orig(self, df, batch_id)
        return f

    def compact(orig):
        def f(self, sp):
            had_deltas = os.path.isdir(self.delta_dir)
            with tracer.span("incremental.state.compact") as rec:
                orig(self, sp)
            rec["compacted"] = (had_deltas
                                and not os.path.isdir(self.delta_dir))
        return f

    with trace.patched(TwoTierState, {"read_committed": read_committed,
                                      "write_delta": write_delta,
                                      "compact": compact}):
        yield


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class StreamWorkload:
    """The write path.  Each stream is a cycle in its own directories: a
    priming ``availableNow`` run commits the first drops (one
    micro-batch), then the catch-up drops land and a second
    ``availableNow`` run catches up on them (two micro-batches, the
    second of which compacts the probe state).  Only the catch-up is
    timed; the first cycle's priming run is the warm-up.

    The traced run also runs the batch build (``run_batch``), before the
    warm-up: ``run_pipeline(force=True)`` over the seeded pages on a
    fresh warehouse, then the same call without ``force`` on the
    committed warehouse (the resume phase, which reads back every
    stage)."""

    N_PAGES = 500
    # The stream source takes four drops per micro-batch.  Micro-batch
    # cost is mostly fixed, so pages per drop stay small.
    STREAM_PAGES, PRIME_DROPS, CATCH_UP_DROPS, COMPACT_EVERY = 300, 4, 8, 3

    def __init__(self, spark, meter, work: str, seed: int):
        self.spark, self.meter = spark, meter
        self.seed, self.work = seed, work
        self.pages_path = os.path.join(work, "pages", "pages.parquet")
        self.cycles: list[dict] = []
        self.batch: dict | None = None

    # inputs ------------------------------------------------------------

    def generate(self) -> int:
        self.pages = inputs.page_table(
            random.Random(f"{self.seed}:pages"), self.N_PAGES
        )
        inputs.write_pages(self.pages_path, self.pages)
        self._first = self._generate_cycle(0)
        return len(self.pages) + len(self._first["rows"])

    def _generate_cycle(self, i: int) -> dict:
        """The cycle's drops, seeded by the run seed and the cycle
        index: the priming drops go to the stream source, the rest wait
        in ``pending`` until the catch-up."""
        d = os.path.join(self.work, f"stream{i}")
        drops = inputs.page_drops(
            random.Random(f"{self.seed}:{i}"), self.STREAM_PAGES,
            self.PRIME_DROPS + self.CATCH_UP_DROPS,
        )
        cyc = {"index": i, "dir": d, "src": os.path.join(d, "drops"),
               "pending": os.path.join(d, "pending"),
               "out": os.path.join(d, "out"),
               "rows": [r for part in drops for r in part],
               "catch_up_pages": sum(
                   len(p) for p in drops[self.PRIME_DROPS:]
               )}
        inputs.write_drops(cyc["src"], drops[: self.PRIME_DROPS], 0)
        inputs.write_drops(
            cyc["pending"], drops[self.PRIME_DROPS:], self.PRIME_DROPS
        )
        return cyc

    def warmup(self) -> None:
        # the first cycle's priming run is the cold start of the process
        self._prime(self._first)

    def _prime(self, cyc: dict) -> dict:
        cyc["prime"] = self._stream(cyc)
        self.cycles.append(cyc)
        return cyc

    # phases ------------------------------------------------------------

    def _pipeline(self, warehouse: str, force: bool, run_id: str) -> dict:
        from arachne_spark.pipeline import PipelineConfig, run_pipeline

        out = run_pipeline(
            self.spark,
            PipelineConfig(warehouse=warehouse, force=force, run_id=run_id),
            pages=self.spark.read.parquet(self.pages_path),
        )
        return {"triples": out["triples"], "entities": out["entities"],
                "stages": out["stages"], "pages": len(self.pages)}

    def _stream(self, cyc: dict) -> dict:
        from arachne_spark.sources.dictionary import alias_df, predicate_df
        from arachne_spark.streaming.incremental import (
            run_incremental_pipeline,
        )

        q = run_incremental_pipeline(
            self.spark, cyc["src"], cyc["out"],
            os.path.join(cyc["dir"], "ckpt"),
            alias_df(self.spark), predicate_df(self.spark),
            available_now=True, compact_every=self.COMPACT_EVERY,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        batches = [
            {
                "batch_id": p["batchId"],
                **{f"{k}_s": v / 1000.0
                   for k, v in p["durationMs"].items()},
            }
            for p in q.recentProgress
            if p["numInputRows"] > 0
        ]
        return {"run_id": str(q.runId), "batches": batches}

    def _timed(self, fn, tracer, name, traced_calls):
        r0 = self.meter.read()
        if tracer is None:
            out = fn()
        else:
            with traced_calls, tracer.span(name):
                out = fn()
        out["wall_s"] = time.perf_counter() - r0[0]
        out.update(_cpu_since(self.meter, r0))
        return out

    def run_batch(self, tracer: trace.Tracer) -> dict:
        """The traced batch build and its resume, as one operation.  It
        runs first in a fresh JVM, as the pipeline's command line does."""
        rec = {"tag": "batch"}
        try:
            wh = rec["warehouse"] = os.path.join(self.work, "warehouse")
            for phase, force in (("build", True), ("resume", False)):
                rec[phase] = self._timed(
                    lambda: self._pipeline(wh, force, phase), tracer,
                    f"pipeline.{phase}", traced_pipeline(tracer, phase),
                )
        except Exception as ex:  # counted in failed, run goes on
            rec["error"] = repr(ex)[:300]
        self.batch = rec
        return rec

    def run(self, seconds: float, tracer: trace.Tracer | None = None,
            ops: int | None = None) -> list[dict]:
        """Closed loop of catch-up runs, one per cycle: at least one and
        until ``seconds`` have passed, or exactly ``ops``."""
        out = []
        for _ in _loop(seconds, 1, ops):
            tag = f"{'t' if tracer else 'u'}{len(out)}"
            rec = {"tag": tag}
            try:
                cyc = self.cycles[-1]
                if "timed" in cyc:
                    cyc = self._prime(self._generate_cycle(len(self.cycles)))
                for f in sorted(os.listdir(cyc["pending"])):  # drops land
                    os.rename(os.path.join(cyc["pending"], f),
                              os.path.join(cyc["src"], f))
                rec["cycle"] = cyc["index"]
                rec["stream"] = self._timed(
                    lambda: self._stream(cyc), tracer,
                    "incremental.stream",
                    traced_state(tracer) if tracer else
                    contextlib.nullcontext(),
                )
                cyc["timed"] = rec["stream"]
                rec["stream"]["pages"] = cyc["catch_up_pages"]
                rec["stream"]["state_files"], rec["stream"]["state_bytes"] = (
                    _dir_stats(cyc["out"] + "_state")
                )
            except Exception as ex:  # counted in failed, run goes on
                rec["error"] = repr(ex)[:300]
            out.append(rec)
        return out

    # correctness -------------------------------------------------------

    def check(self, ops: list[dict]) -> list[dict]:
        """Per catch-up: the stream's output holds no triple twice and
        equals the batch answer over the mention and relation branches
        of every drop of its cycle.  Per batch build: its ``triples``
        match the pure-Python twin over the same pages (P/R >= 0.95)
        and its resume returns what the build committed.  Then the
        extracted text is byte-identical to the twin's on a seeded
        sample of urls: from the build's ``pages_clean`` where a build
        ran, else from the extraction operator over the stream's
        pages."""
        out = []
        built = None
        for op in ops:
            if "error" in op:
                continue
            if "build" in op:
                built = op
                out.extend(self._check_batch(op))
                continue
            cyc = self.cycles[op["cycle"]]
            rows = [
                tuple(r)
                for r in self.spark.read.parquet(cyc["out"])
                .select("subj", "pred", "obj").collect()
            ]
            got, want = set(rows), twin_triples(_latest(cyc["rows"]),
                                                batch=False)
            out.append({"check": f"{op['tag']}:stream_set",
                        "ok": len(rows) == len(got), "got": len(rows),
                        "want": len(got)})
            out.append({"check": f"{op['tag']}:stream_batch_answer",
                        "ok": got == want, "got": len(got),
                        "want": len(want)})
        out.append(self._check_text(built))
        return out

    def _check_batch(self, op: dict) -> list[dict]:
        from tests import oracle

        triples = self.spark.read.parquet(
            os.path.join(op["warehouse"], "triples")
        ).select("subj", "pred", "obj")
        got = {tuple(r) for r in triples.collect()}
        p, r = oracle.precision_recall(
            got, twin_triples(_latest(self.pages), batch=True)
        )
        return [
            {"check": "batch:build_pr", "ok": p >= 0.95 and r >= 0.95,
             "got": [round(p, 4), round(r, 4)], "want": ">= 0.95"},
            {"check": "batch:resume_counts",
             "ok": (op["resume"]["triples"], op["resume"]["entities"])
             == (op["build"]["triples"], op["build"]["entities"]),
             "got": op["resume"]["triples"],
             "want": op["build"]["triples"]},
        ]

    def _check_text(self, built: dict | None, sample: int = 64) -> dict:
        from pyspark.sql import functions as F
        from tests import oracle
        from arachne_spark.operators.extract import with_text

        pages = self.pages if built else self.cycles[0]["rows"]
        latest = _latest(pages)
        picked = random.Random(self.seed).sample(
            sorted(latest), min(sample, len(latest))
        )
        if built:
            text = self.spark.read.parquet(
                os.path.join(built["warehouse"], "pages_clean")
            )
        else:
            text = with_text(self.spark.read.parquet(self.cycles[0]["src"]))
        texts = {
            r["url"]: r["text"]
            for r in text.where(F.col("url").isin(picked))
            .select("url", "html", "text").collect()
            if bytes(r["html"]) == latest[r["url"]]["html"]
        }
        bad = sum(
            texts.get(u) != oracle.extract_text(latest[u]["html"])
            for u in picked
        )
        return {"check": "extract:bytes", "ok": bad == 0,
                "got": len(picked) - bad, "want": len(picked)}


def _latest(rows: list[dict]) -> dict[str, dict]:
    """Latest snapshot per url of the English pages."""
    latest: dict[str, dict] = {}
    for r in rows:
        if r["lang"] == "en" and (
            r["url"] not in latest
            or r["warc_ts"] > latest[r["url"]]["warc_ts"]
        ):
            latest[r["url"]] = r
    return latest


def twin_triples(latest: dict[str, dict], batch: bool) -> set:
    """The expected triples of ``latest`` pages from the pure-Python
    twin (``tests/oracle.py``).  ``batch``: the pipeline's answer, with
    fuzzy links and ``sameAs`` canonicalization, as in
    ``oracle.expected_output``; else the stream's, which has neither
    and keeps ``sameAs`` triples as relations."""
    from tests import oracle
    from arachne_spark.sources.dictionary import _PREDICATES

    alias_map: dict = {}
    for alias, qid, _kind, prio in oracle.alias_rows():
        if alias not in alias_map or (prio, qid) < alias_map[alias]:
            alias_map[alias] = (prio, qid)
    alias_map = {a: v[1] for a, v in alias_map.items()}
    pred_map = dict(_PREDICATES)
    fdict, fuzzy_memo = (oracle._fuzzy_dict(), {}) if batch else (None, {})
    want, same_as = set(), []
    for url, r in latest.items():
        toks = oracle.tokenize(oracle.extract_text(r["html"]))
        ms = oracle.detect_mentions(toks, alias_map)
        for _pos, _n, qid in ms:
            want.add((url, "mentions", qid))
        if batch:
            covered = {i for p, n, _ in ms for i in range(p, p + n)}
            for i, tok in enumerate(toks):
                if len(tok) < oracle.FUZZY_MIN_LEN or i in covered:
                    continue
                if tok not in fuzzy_memo:
                    fuzzy_memo[tok] = oracle.fuzzy_link(tok, fdict)
                if fuzzy_memo[tok]:
                    want.add((url, "mentions", fuzzy_memo[tok]))
        for p1, n1, q1 in ms:
            for p2, _n2, q2 in ms:
                if 1 <= p2 - (p1 + n1) <= oracle.MAX_GAP:
                    pred = pred_map.get(" ".join(toks[p1 + n1:p2]))
                    if pred == "sameAs" and batch:
                        same_as.append((q1, q2))
                    elif pred:
                        want.add((q1, pred, q2))
    if not batch:
        return want
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in same_as:
        ra, rb = find(a), find(b)
        if ra != rb:
            key = lambda q: (int(q[1:]), q)  # noqa: E731
            keep, drop = (ra, rb) if key(ra) < key(rb) else (rb, ra)
            parent[drop] = keep

    def canon(q):
        return find(q) if q in parent else q

    return {(canon(s) if p != "mentions" else s, p, canon(o))
            for s, p, o in want}


def _loop(seconds: float, least: int, exact: int | None):
    """Indices of a closed loop: exactly ``exact`` iterations if given,
    else at least ``least`` and then more while ``seconds`` have not
    passed since the loop began."""
    if exact is not None:
        yield from range(exact)
        return
    t_end = time.perf_counter() + seconds
    i = 0
    while i < least or time.perf_counter() < t_end:
        yield i
        i += 1
