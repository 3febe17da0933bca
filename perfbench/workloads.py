"""The benchmark's workloads: set-up, one timed operation, its output
check, and a traced pass that calls each layer's public functions in turn.

Inputs come from ``sources.synth`` (claim-review rows) and
``sources.codesynth`` (code files lifted from seeded documents); the seed
is the only thing the workloads take from the command line.
"""

import contextlib
import dataclasses
import hashlib
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Tuple

from pyspark.sql import functions as F

from claimskg_generator_spark.constants.namespaces import NS
from claimskg_generator_spark.constants.static_triples import static_triples
from claimskg_generator_spark.functions.udfs import clean_citations
from claimskg_generator_spark.operators.bgp import predicate_profile
from claimskg_generator_spark.operators.code_kg import (
    P_IMPORTS,
    P_LANG,
    T_SOURCE_FILE,
    code_triples,
    materialize_code_kg,
)
from claimskg_generator_spark.operators.keywords import (
    exploded_keywords,
    keyword_triples_and_raw_mentions,
)
from claimskg_generator_spark.operators.mentions import (
    mention_family_triples,
    mint_mentions,
    review_and_body_raw_mentions,
)
from claimskg_generator_spark.operators.ratings_join import with_normalized_rating
from claimskg_generator_spark.operators.reconcile import (
    reconcile_pairs,
    reconcile_triples,
)
from claimskg_generator_spark.operators.row_triples import single_pass_row_triples
from claimskg_generator_spark.operators.sampling import optimize_layout
from claimskg_generator_spark.operators.sparql import sparql_select
from claimskg_generator_spark.operators.sparql_update import apply_update_to_table
from claimskg_generator_spark.operators.views import logical_views
from claimskg_generator_spark.oracle import ReferenceOracle
from claimskg_generator_spark.plans.pipeline import (
    TRIPLE_DDL,
    ClaimsKGPipeline,
    PipelineConfig,
)
from claimskg_generator_spark.sources import synth
from claimskg_generator_spark.sources.claims import derive_claims, parse_records
from claimskg_generator_spark.sources.codesynth import code_files
from claimskg_generator_spark.sources.snapshot_table import SnapshotTable
from claimskg_generator_spark.sources.thesaurus import thesaurus_triples

from tracing import Tracer

TRIPLE_COLS = ["subj", "pred", "obj", "okind"]


@dataclass
class Request:
    """One request of a timed operation; ``detail`` holds what the output
    check needs after the timed window."""

    kind: str
    latency_s: float
    ok: bool = True
    detail: Dict = field(default_factory=dict)


@dataclass
class Op:
    wall_s: float
    requests: List[Request]
    cpu_s: float = 0.0  # CPU of the driver JVM and Python workers


# ---- order-independent triple digests --------------------------------------

def _digest_int(key: str) -> int:
    return int(hashlib.sha256(key.encode("utf-8")).hexdigest()[:15], 16)


def frame_digest(df) -> Tuple[int, int]:
    """(row count, sum of a 60-bit sha256 prefix per row): equal for equal
    multisets of rows, whatever the order."""
    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c), F.lit("\x00"))
                                for c in TRIPLE_COLS])
    h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10)
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("d")).first()
    return row["n"], int(row["d"] or 0)


def triples_digest(triples) -> Tuple[int, int]:
    total = 0
    n = 0
    for t in triples:
        total += _digest_int("\x1f".join("\x00" if v is None else v for v in t))
        n += 1
    return n, total


# ---- ClaimsKG batch builds -------------------------------------------------

class ClaimsBuild:
    """A ClaimsKG batch build through ``ClaimsKGPipeline``: fresh
    checkpoint dir, N-Triples sink.  ``claims_reconcile`` is the same
    build with ``reconcile_theta`` set (the reference's ``--reconcile``)."""

    name = "claims_build"
    batch = True
    rows = 1000
    theta = -1.0
    setup_repeats = 5

    def __init__(self, spark, scratch, seed: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        self.input = None
        self._expected = None

    def _config(self, ck: str) -> PipelineConfig:
        return PipelineConfig(checkpoint_dir=ck, reconcile_theta=self.theta)

    def setup(self) -> None:
        """Stage the seeded corpus as the pipeline's parquet input."""
        self.input = self.scratch.fresh("input")
        synth.synthesize_corpus(self.spark, self.rows, self.seed) \
            .write.parquet(self.input)

    def check_setup(self):
        return None  # staging is input generation; the builds are checked

    def restore(self) -> None:
        pass  # every build writes fresh checkpoint and sink dirs

    def warm_up(self) -> None:
        pass  # measured cold, as one CLI invocation runs the build

    def more(self, ops: List[Op], measured: float, seconds: float) -> bool:
        """One build per process: a second one would run warm and mean
        something else."""
        return not ops

    def op(self) -> Op:
        ck = self.scratch.fresh("run", "checkpoints")
        sink = self.scratch.fresh("run", "ntriples")
        t0 = time.perf_counter()
        pipe = ClaimsKGPipeline(self.spark, self._config(ck))
        triples = pipe.run(self.spark.read.parquet(self.input))
        pipe.write_ntriples(triples, sink)
        wall = time.perf_counter() - t0
        return Op(wall, [Request("build", wall, detail={"ck": ck,
                                                        "sink": sink})])

    def units(self) -> Dict[str, int]:
        """Input rows and distinct output triples of one build."""
        return {"rows": self.rows, "triples": self.expected()["n"]}

    def wall_s(self, ops: List[Op]) -> float:
        return statistics.median(op.wall_s for op in ops)

    # -- output checks (outside the timed window) --
    def expected(self) -> Dict:
        if self._expected is None:
            o = ReferenceOracle(synth.THESAURUS_ENTRIES)
            o.generate(synth.gen_records(self.rows, self.seed))
            pairs = None
            if self.theta > 0:
                pairs = {(a, b) for a, b, _ in o.reconcile(self.theta)}
            n, d = triples_digest(o.triples)
            self._expected = {"n": n, "digest": d, "pairs": pairs}
        return self._expected

    def _check_triples(self, triples, sink: str) -> bool:
        want = self.expected()
        n, d = frame_digest(triples)
        ok = (n == want["n"] and d == want["digest"]
              and triples.distinct().count() == n
              and self.spark.read.text(sink).count() == n)
        if want["pairs"] is not None:
            got = {
                (r["subj"], r["obj"]) for r in triples.filter(
                    (F.col("pred") == NS.OWL_SAME_AS)
                    & F.col("subj").contains("/creative_work/")).collect()
            }
            ok = ok and got == want["pairs"]
        return ok

    def check(self, op: Op) -> None:
        for req in op.requests:
            triples = self.spark.read.parquet(req.detail["ck"] + "/triples")
            req.ok = req.ok and self._check_triples(triples,
                                                    req.detail["sink"])

    def cleanup(self, op: Op) -> None:
        shutil.rmtree(self.scratch.path("run"), ignore_errors=True)

    # -- traced pass --
    def traced(self, tracer: Tracer) -> Dict[str, float]:
        """The build stage by stage through the layers' public functions
        (the order of ``ClaimsKGPipeline.triples_raw``), each layer's
        output persisted and materialized inside its own span."""
        spark = self.spark
        # the timed build ran cold; the overhead reference is a warm one
        ref = self.op()
        self.check(ref)
        self.cleanup(ref)
        ck = self.scratch.fresh("run", "checkpoints")
        sink = self.scratch.fresh("run", "ntriples")
        cfg = self._config(ck)
        pipe = ClaimsKGPipeline(spark, cfg)
        uri, thr = cfg.model_uri, cfg.threshold
        input_df = spark.read.parquet(self.input)

        # lazy construction of the whole plan, no action: the py4j-bound
        # driver cost that every build pays before its first job
        t0 = time.perf_counter()
        lazy = ClaimsKGPipeline(spark, dataclasses.replace(
            cfg, checkpoint_dir=None, materialize_parsed=False))
        lazy.triples_raw(input_df).dropDuplicates(TRIPLE_COLS)
        plan_build_s = time.perf_counter() - t0
        spark.catalog.clearCache()  # the lazy plan registered its caches

        with tracer.span(self.name, "plans.pipeline"):
            with tracer.span("sources.claims.parse", "sources.claims",
                             [input_df]):
                parsed = tracer.output(parse_records(input_df, cfg.order_col))
            with tracer.span("plans.checkpoints.write", "plans.checkpoints",
                             [parsed]):
                parsed = tracer.output(
                    pipe.checkpoints.materialize("parsed", parsed),
                    persist=False)
            with tracer.span("sources.claims.derive", "sources.claims",
                             [parsed]):
                claims = tracer.output(
                    derive_claims(parsed, uri).withColumn(
                        "citations",
                        clean_citations(F.col("links"), F.col("source"))))
            with tracer.span("operators.ratings_join", inputs=[claims]):
                claims = tracer.output(
                    with_normalized_rating(claims, spark, uri))
            with tracer.span("operators.keywords", inputs=[claims]):
                ex = tracer.output(exploded_keywords(claims, uri))
                kw_triples, kw_raw = keyword_triples_and_raw_mentions(
                    claims, uri, pipe.matchers, thr, ex)
                kw_triples = tracer.output(kw_triples)
                kw_raw = tracer.output(kw_raw)
            with tracer.span("operators.mentions", inputs=[claims, kw_raw]):
                mentions = tracer.output(mention_family_triples(
                    mint_mentions(review_and_body_raw_mentions(claims, thr)
                                  .unionByName(kw_raw)), uri))
            with tracer.span("operators.row_triples", inputs=[claims]):
                rows = tracer.output(single_pass_row_triples(
                    claims, uri, cfg.include_body, thr))
            fixed = spark.createDataFrame(
                static_triples(uri, cfg.generated_at)
                + thesaurus_triples(cfg.thesaurus_entries), TRIPLE_DDL)
            parts = [rows, mentions, kw_triples, fixed]
            views = None
            if cfg.reconcile_theta > 0:
                with tracer.span("operators.views", inputs=[claims, ex]):
                    views = tracer.output(logical_views(claims, uri, thr, ex))
                with tracer.span("operators.reconcile", inputs=[views]):
                    parts.append(tracer.output(
                        reconcile_triples(views, cfg.reconcile_theta)))
            with tracer.span("plans.pipeline.dedup", "plans.pipeline", parts):
                union = parts[0]
                for p in parts[1:]:
                    union = union.unionByName(p)
                deduped = tracer.output(union.dropDuplicates(TRIPLE_COLS))
            with tracer.span("plans.checkpoints.write", "plans.checkpoints",
                             [deduped]):
                triples = tracer.output(
                    pipe.checkpoints.materialize("triples", deduped),
                    persist=False)
            with tracer.span("plans.pipeline.sink", "plans.pipeline",
                             [triples]):
                pipe.write_ntriples(triples, sink)

        # ratios, counted outside the trace from the persisted outputs
        size = lambda c: F.greatest(F.coalesce(F.size(c), F.lit(0)), F.lit(0))  # noqa: E731
        parsed_mentions = claims.agg(
            F.sum(size("m_review") + size("m_body"))).first()[0] or 0
        kept_mentions = review_and_body_raw_mentions(claims, thr).count()
        n_keywords = kw_triples.filter(
            (F.col("pred") == NS.RDF_TYPE)
            & (F.col("obj") == NS.SCHEMA_THING)).count()
        n_hits = kw_triples.filter(F.col("pred") == NS.DCT_ABOUT) \
            .select("subj").distinct().count()
        extra = {
            "plans.pipeline.plan_build_s": plan_build_s,
            "operators.mentions.kept_frac": _ratio(kept_mentions,
                                                   parsed_mentions),
            "operators.keywords.thesaurus_hit_frac": _ratio(n_hits,
                                                            n_keywords),
        }
        if views is not None:
            candidates = reconcile_pairs(views, -1.0).count()
            edges = reconcile_pairs(views, cfg.reconcile_theta).count()
            extra.update({
                "operators.reconcile.candidate_pairs": candidates,
                "operators.reconcile.sameas_edges": edges,
                "operators.reconcile.pair_yield": _ratio(edges, candidates),
            })
        extra["traced_ok"] = (ref.requests[0].ok
                              and self._check_triples(triples, sink))
        extra["untraced_s"] = ref.wall_s
        tracer.finish()
        dedup = next(sp for sp in tracer.spans
                     if sp.name == "plans.pipeline.dedup")
        extra.update({
            "plans.pipeline.dedup_s": tracer.by_name("plans.pipeline.dedup"),
            "plans.pipeline.dedup_keep_frac": _ratio(dedup.rows_out,
                                                     dedup.rows_in),
            "plans.pipeline.sink_s": tracer.by_name("plans.pipeline.sink"),
            "plans.checkpoints.write_s":
                tracer.by_name("plans.checkpoints.write"),
        })
        shutil.rmtree(self.scratch.path("run"), ignore_errors=True)
        return extra


class ClaimsReconcile(ClaimsBuild):
    name = "claims_reconcile"
    rows = 200  # the check's oracle scores all pairs in pure Python
    theta = 0.3


def _ratio(num, den) -> float:
    return num / den if den else 0.0


# ---- KG serving --------------------------------------------------------------

_DOC_WORDS = (
    "numpy pandas lodash react requests flask django tokio serde gson "
    "guava junit express axios vue fmt log http json yaml util core "
    "claim review rating fact check source author entity keyword graph"
).split()
STAT_COLS = ("pred", "subj")
STAR_QUERY = (f"SELECT ?cr ?r ?a WHERE {{ ?cr <{NS.SCHEMA_REVIEW_RATING}> ?r "
              f". ?cr <{NS.SCHEMA_AUTHOR}> ?a }}")
AGG_QUERY = (f"SELECT ?l (COUNT(?f) AS ?n) WHERE {{ ?f <{P_LANG}> ?l }} "
             "GROUP BY ?l")
POINTS_PER_ROUND = 4
INSERTS_PER_UPDATE = 3


class KGServe:
    """A published KG served to one closed-loop client.

    Set-up publishes the code KG (``sources.codesynth`` lift,
    ``materialize_code_kg``: predicate-clustered bulk append plus lineage)
    and appends the claims KG into the same snapshot table.  One timed
    operation is a round of the request mix: subject point lookups with
    the ``where=`` pruning hint, a rating x author star BGP, a GROUP BY
    aggregate, then one insert-only ``INSERT DATA`` update."""

    name = "kg_serve"
    batch = False
    files = 3000
    claims = 300
    setup_repeats = 3
    min_rounds = 3

    def __init__(self, spark, scratch, seed: int):
        self.spark = spark
        self.scratch = scratch
        self.seed = seed
        o = ReferenceOracle(synth.THESAURUS_ENTRIES)
        o.generate(synth.gen_records(self.claims, seed))
        self.claims_triples = sorted(o.triples)
        self.pristine = None
        self.work = None
        self.stats = None
        self.subjects: List[str] = []
        self._frames = {}
        self._round = 0
        self._rng = random.Random(seed)

    def _documents(self):
        words = F.array(*[F.lit(w) for w in _DOC_WORDS])
        d = F.col("id")
        toks = F.transform(
            F.sequence(F.lit(1), F.lit(14)),
            lambda i: F.element_at(words, (F.pmod(
                F.xxhash64(F.lit(self.seed), d, i),
                F.lit(len(_DOC_WORDS))) + 1).cast("int")))
        return self.spark.range(self.files).select(
            d.alias("doc_id"), F.array_join(toks, " ").alias("text"))

    def _publish(self, table_dir: str, files_dir: str, tracer=None):
        spark = self.spark
        span = tracer.span if tracer else _no_span
        output = tracer.output if tracer else (lambda df: df)
        with span("sources.codesynth"):
            files = output(code_files(self._documents()))
            files.write.parquet(files_dir)
        files = spark.read.parquet(files_dir)
        triples = None
        if tracer:
            with tracer.span("operators.code_kg.triples", "operators.code_kg",
                             [files]):
                triples = tracer.output(code_triples(files))
        with span("operators.code_kg.materialize", "operators.code_kg"):
            materialize_code_kg(spark, files, table_dir, n_partitions=8,
                                stat_cols=STAT_COLS, triples=triples)
        table = SnapshotTable(spark, table_dir, stat_cols=STAT_COLS)
        with span("sources.snapshot_table.append", "sources.snapshot_table"):
            table.append(optimize_layout(
                spark.createDataFrame(self.claims_triples, TRIPLE_DDL),
                ["subj"], 4))
        with span("operators.bgp"):
            self.stats = {r["pred"]: (r["n_triples"], r["n_subj"], r["n_obj"])
                          for r in predicate_profile(table.read()).collect()}
        return table

    def setup(self) -> None:
        self.pristine = self.scratch.fresh("kg", "table")
        self._publish(self.pristine, self.scratch.fresh("kg", "files"))

    def check_setup(self) -> bool:
        return self.check_publish(self.pristine, self.scratch.path("kg", "files"))

    def restore(self) -> None:
        """Every run starts from the set-up snapshot: the working table is a
        copy of its metadata (data files are immutable and shared)."""
        self.work = self.scratch.fresh("kg", "work")
        shutil.copytree(self.pristine, self.work)
        self._frames = {}
        if not self.subjects:
            snap = self._snapshot_frame(SnapshotTable(
                self.spark, self.work, stat_cols=STAT_COLS), None)
            typed = snap[(snap.pred == NS.RDF_TYPE)
                          & snap.obj.isin([NS.SCHEMA_CLAIM_REVIEW,
                                           T_SOURCE_FILE])]
            self.subjects = sorted(typed.subj)

    def warm_up(self) -> None:
        self.restore()
        self.check(self.op())
        self.restore()

    def more(self, ops: List[Op], measured: float, seconds: float) -> bool:
        return measured < seconds or len(ops) < self.min_rounds

    def _table(self) -> SnapshotTable:
        return SnapshotTable(self.spark, self.work, stat_cols=STAT_COLS)

    def _timed(self, kind: str, fn, detail: Dict, tracer=None) -> Request:
        t0 = time.perf_counter()
        detail["answer"] = fn(tracer)
        return Request(kind, time.perf_counter() - t0, detail=detail)

    def _select(self, table, query, where=None, stats=None):
        def run(tracer):
            span = tracer.span if tracer else _no_span
            with span("sources.snapshot_table.read", "sources.snapshot_table"):
                df = table.read(where=where)
            with span("operators.sparql.plan", "operators.sparql"):
                q = sparql_select(df, query, stats=stats)
            with span("operators.sparql.exec", "operators.sparql"):
                return [tuple(r) for r in q.collect()]
        return run

    def round(self, tracer=None) -> Op:
        table = self._table()
        sid = table.current_snapshot_id()
        reqs = []
        t0 = time.perf_counter()
        for subj in self._rng.sample(self.subjects, POINTS_PER_ROUND):
            where = ("subj", "=", subj)
            reqs.append(self._timed(
                "point", self._select(
                    table, f"SELECT ?p ?o WHERE {{ <{subj}> ?p ?o }}", where),
                {"sid": sid, "subj": subj, "where": where}, tracer))
        reqs.append(self._timed(
            "star", self._select(table, STAR_QUERY, stats=self.stats),
            {"sid": sid}, tracer))
        where = ("pred", "=", P_LANG)
        reqs.append(self._timed(
            "aggregate", self._select(table, AGG_QUERY, where),
            {"sid": sid, "where": where}, tracer))
        inserted = [(f"urn:perfbench:{self.seed}:{self._round}:{k}",
                     NS.SCHEMA_NAME, f"v{k}") for k in
                    range(INSERTS_PER_UPDATE)]
        self._round += 1
        update = "INSERT DATA { " + " . ".join(
            f'<{s}> <{p}> "{o}"' for s, p, o in inserted) + " }"

        def apply(tracer):
            span = tracer.span if tracer else _no_span
            with span("operators.sparql_update"):
                return apply_update_to_table(table, update)
        reqs.append(self._timed("update", apply,
                                {"sid": sid, "inserted": inserted}, tracer))
        return Op(time.perf_counter() - t0, reqs)

    def op(self) -> Op:
        return self.round()

    def wall_s(self, ops: List[Op]) -> float:
        """One round of the mix composed from each request kind's median
        latency: steadier than the median of a handful of rounds."""
        by_kind: Dict[str, List[float]] = {}
        for op in ops:
            for r in op.requests:
                by_kind.setdefault(r.kind, []).append(r.latency_s)
        mix = Counter(r.kind for r in ops[0].requests)
        return sum(n * statistics.median(by_kind[k]) for k, n in mix.items())

    # -- output checks (outside the timed window) --
    def _snapshot_frame(self, table, sid):
        key = sid
        if key not in self._frames:
            self._frames[key] = table.read(sid).toPandas()
        return self._frames[key]

    def _expected(self, req: Request, table):
        snap = self._snapshot_frame(table, req.detail["sid"])
        if req.kind == "point":
            hit = snap[snap.subj == req.detail["subj"]]
            return sorted(zip(hit.pred, hit.obj))
        if req.kind == "star":
            rating = snap[snap.pred == NS.SCHEMA_REVIEW_RATING][["subj", "obj"]]
            author = snap[snap.pred == NS.SCHEMA_AUTHOR][["subj", "obj"]]
            both = rating.merge(author, on="subj")
            return sorted(zip(both.subj, both.obj_x, both.obj_y))
        if req.kind == "aggregate":
            langs = snap[snap.pred == P_LANG].groupby("obj").size()
            return sorted((k, int(v)) for k, v in langs.items())
        raise ValueError(req.kind)

    def check(self, op: Op) -> None:
        table = self._table()
        for req in op.requests:
            if not req.ok:
                continue
            if req.kind == "update":
                new_sid = req.detail["answer"]
                before = self._snapshot_frame(table, req.detail["sid"])
                after = self._snapshot_frame(table, new_sid)
                added = after[after.subj.str.startswith("urn:perfbench:")]
                had = before[before.subj.str.startswith("urn:perfbench:")]
                got = set(zip(added.subj, added.pred, added.obj)) - set(
                    zip(had.subj, had.pred, had.obj))
                req.ok = (len(after) == len(before) + len(req.detail["inserted"])
                          and got == set(req.detail["inserted"]))
            else:
                req.ok = sorted(req.detail["answer"]) == \
                    self._expected(req, table)

    def check_publish(self, table_dir: str, files_dir: str) -> bool:
        """Code-KG publish invariants: set semantics, lineage triple count
        (8 per file + 3 per import edge, pre-dedup) and the per-split
        content sha256 recomputed here from the input files."""
        spark = self.spark
        table = SnapshotTable(spark, table_dir, stat_cols=STAT_COLS)
        code_sid = min(s["snapshot_id"] for s in table.snapshots())
        code = table.read(code_sid)
        n = code.count()
        manifest = table.manifest(code_sid)
        lineage = spark.read.parquet(manifest["lineage_path"]).collect()
        files = spark.read.parquet(files_dir)
        n_files = files.count()
        n_imports = code.filter(F.col("pred") == P_IMPORTS).count()
        splits: Dict[int, List[str]] = {}
        for r in files.select(F.spark_partition_id().alias("s"),
                              "content").toLocalIterator():
            splits.setdefault(r["s"], []).append(
                hashlib.sha256(r["content"].encode("utf-8")).hexdigest())
        want_sha = {s: hashlib.sha256("".join(sorted(h)).encode()).hexdigest()
                    for s, h in splits.items()}
        got_sha = {r["input_split"]: r["content_sha256"] for r in lineage}
        return (code.distinct().count() == n
                and sum(r["n_rows"] for r in lineage) == n_files
                and sum(r["n_triples_emitted"] for r in lineage)
                == 8 * n_files + 3 * n_imports
                and got_sha == want_sha)

    def cleanup(self, op: Op) -> None:
        self._frames = {}

    # -- traced pass --
    def traced(self, tracer: Tracer) -> Dict[str, float]:
        table_dir = self.scratch.fresh("kg", "traced-table")
        files_dir = self.scratch.fresh("kg", "traced-files")
        with tracer.span(self.name, "perfbench"):
            self._publish(table_dir, files_dir, tracer)
            work, self.work = self.work, table_dir
            op = self.round(tracer)
        ok = self.check_publish(table_dir, files_dir)
        self.check(op)
        self.work = work
        tracer.finish()
        table = SnapshotTable(self.spark, table_dir, stat_cols=STAT_COLS)
        kept = total = 0
        for req in op.requests:
            if "where" in req.detail:
                st = table.scan_stats(req.detail["sid"], req.detail["where"])
                kept += st["kept_files"]
                total += st["total_files"]
        return {
            "traced_ok": ok and all(r.ok for r in op.requests),
            "operators.code_kg.triples_s":
                tracer.by_name("operators.code_kg.triples"),
            "operators.code_kg.materialize_s":
                tracer.by_name("operators.code_kg.materialize"),
            "sources.snapshot_table.append_s":
                tracer.by_name("sources.snapshot_table.append"),
            "sources.snapshot_table.read_s":
                tracer.by_name("sources.snapshot_table.read"),
            "sources.snapshot_table.kept_file_frac": _ratio(kept, total),
            "operators.sparql.plan_s": tracer.by_name("operators.sparql.plan"),
            "operators.sparql.exec_s": tracer.by_name("operators.sparql.exec"),
        }


def _no_span(*args, **kwargs):
    return contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (ClaimsBuild, ClaimsReconcile, KGServe)}
