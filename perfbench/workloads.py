"""The two benchmark workloads.

Each workload has the same shape:

- ``setup`` builds its inputs from the seed and pins them as Spark
  frames; it is repeated and its median reported as ``setup_s``;
- ``warm_up`` is the one-off work before timing (a cold unit, or the
  seeded store), which also warms the JIT and the Python workers; it
  returns the reference outputs when it has them;
- ``unit`` is one timed call sequence through the engine's public entry
  points, returning its phase walls and the outputs to check;
- ``traced`` runs the same work one layer at a time inside spans, each
  stage written and read back the way ``run_pipeline`` materializes it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import types

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from measure import Spans, dir_bytes, persisted_rdds

PAGE_SCHEMA = "url string, warc_ts timestamp, text string, lang string"
ALIAS_SCHEMA = "alias string, alias_norm string, entity_id long, canonical_name string, prior double"
# PageRank rounds per unit.  Three rounds stay inside one checkpoint
# interval (5), so the per-round plan growth the operator has today is
# part of what the workload measures.
RANK_ITER = 3
# One fixed weight bundle: with random weights the tag rate, and so all
# downstream work, swings with the bundle seed (bundle seeds 101 and 102
# gave 6,028 and 13,006 triples from same-sized inputs).
BUNDLE_SEED = 42
SAMEAS_EDGE = (5, 6)  # merges two issued ids, so snapshot 1 retires one


def content_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's rows (floats rounded to 12
    digits so summation order cannot change it)."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(12)
    h = np.sort(pd.util.hash_pandas_object(pdf, index=False).to_numpy())
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def materialize(spark, df, path: str) -> tuple:
    """Write a stage and read it back, as the pipeline's stage runner does."""
    from neuroner_spark.io import read_table, write_table

    write_table(df, path)
    out = read_table(spark, path)
    return out, out.count()


def _aliases(spark):
    from neuroner_spark.io import local_df
    from neuroner_spark.plans.catalog_kg import ALIAS_DICT

    return local_df(spark, ALIAS_DICT, ALIAS_SCHEMA)


def _co_occurrence_edges(triples):
    return triples.filter(F.col("pred") == "co_occurs_with").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )


def traced_pipeline(spans: Spans, spark, pages, aliases, run_dir: str, mentions_from, canonical):
    """``run_pipeline``'s eight stages, one span per layer, each stage
    written and read back under ``run_dir``.  ``mentions_from(stage,
    tokens)`` builds the mention stage(s); ``canonical()`` the canonical
    mapping.  Returns (tokens, triples)."""
    from neuroner_spark.functions.tokenize import tokenize
    from neuroner_spark.operators.linking import link_mentions
    from neuroner_spark.plans import kg_pipeline as kg

    def stage(span_name, stage_name, build):
        with spans.span(span_name) as s:
            df, s["rows_out"] = materialize(spark, build(), os.path.join(run_dir, stage_name))
        return df

    norm = stage("plans.kg_pipeline.normalize", "normalized", lambda: kg.normalize_pages(pages))
    tokens = stage("functions.tokenize", "tokens", lambda: tokenize(norm))
    mentions = mentions_from(stage, tokens)
    linked = stage("operators.linking", "linked", lambda: link_mentions(mentions, aliases, use_fuzzy=False))
    canon = stage("operators.components", "canonical", canonical)
    triples = stage(
        "plans.kg_pipeline.triples", "triples",
        lambda: kg.triples_from_linked(
            linked, canon, norm.select(F.col("doc_id").alias("url"), "warc_ts"), tokens=tokens
        ),
    )
    with spans.span("plans.kg_pipeline.entities") as s:
        _, n_capped = materialize(
            spark, kg.co_occurrence_capped_docs(linked, canon), os.path.join(run_dir, "co_occurs_capped")
        )
        _, n_ents = materialize(
            spark,
            aliases.join(canon, "entity_id").groupBy("canonical_id").agg(
                F.min("canonical_name").alias("canonical_name"),
                F.countDistinct("alias_norm").alias("n_aliases"),
            ),
            os.path.join(run_dir, "entities"),
        )
        s["rows_out"] = n_capped + n_ents
    return tokens, triples


def _co_occurrence_pairs(triples: pd.DataFrame) -> list[tuple[int, int]]:
    co = triples[triples["pred"] == "co_occurs_with"]
    return list(zip(co["subj"].astype(int), co["obj"].astype(int)))


def power_iteration(pairs: list[tuple[int, int]], iters: int, damping: float = 0.85) -> dict:
    """Reference PageRank on the driver: undirected edges, uniform start,
    dangling mass spread evenly, a fixed number of rounds."""
    edges = {(a, b) for a, b in pairs if a != b} | {(b, a) for a, b in pairs if a != b}
    nodes = sorted({a for a, _ in edges})
    if not nodes:
        return {}
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    deg = np.zeros(n)
    for a, _ in edges:
        deg[idx[a]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        inflow = np.zeros(n)
        for a, b in edges:
            inflow[idx[b]] += r[idx[a]] / deg[idx[a]]
        r = (1 - damping) / n + damping * r[deg == 0].sum() / n + damping * inflow
    return dict(zip(nodes, r))


def triple_errors(triples: pd.DataFrame) -> list[str]:
    """Shape checks every triple table must pass."""
    from neuroner_spark.plans.catalog_kg import ALIAS_DICT
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS

    errs = []
    if triples.empty:
        errs.append("no triples")
    if triples.duplicated().any():
        errs.append("duplicate triples")
    if not triples["pred"].isin(SYMMETRIC_PREDS).all():
        errs.append(f"unexpected predicates {sorted(set(triples['pred']) - set(SYMMETRIC_PREDS))}")
    if not (triples["subj"] < triples["obj"]).all():
        errs.append("a symmetric triple is not stored as subj < obj")
    ids = {row[2] for row in ALIAS_DICT}
    if not set(triples["subj"]).union(triples["obj"]) <= ids:
        errs.append("a triple names an id outside the alias dictionary")
    return errs


def rank_errors(got: dict, want: dict) -> list[str]:
    if set(got) != set(want):
        return [f"ranked nodes {sorted(got)} != graph nodes {sorted(want)}"]
    errs = []
    if abs(sum(got.values()) - 1.0) > 1e-9:
        errs.append(f"ranks sum to {sum(got.values())}")
    worst = max((abs(got[n] - r) for n, r in want.items()), default=0.0)
    if worst > 1e-9:
        errs.append(f"ranks differ from the numpy power iteration by {worst}")
    return errs


class Workload:
    """Shared output checking; subclasses define the calls."""

    name = ""
    # output keys every unit of a run must reproduce exactly
    COMPARED: tuple = ()
    # outputs pinned for --seed 42 at the full size
    EXPECTED_SEED42: dict = {}

    def __init__(self, spark, n_pages: int):
        self.spark, self.n_pages = spark, n_pages

    def check(self, out: dict, ref: dict | None, default_case: bool) -> list[str]:
        errs = [f"{k}: {out[k]} != reference {ref[k]}" for k in self.COMPARED if ref and out[k] != ref[k]]
        errs += out["errors"]
        if default_case:
            errs += [f"{k}: {out[k]} != pinned {v}" for k, v in self.EXPECTED_SEED42.items() if out[k] != v]
        return errs


class BatchNeuralRank(Workload):
    """A batch of pages through ``run_pipeline`` with the BiLSTM-CRF
    tagger, then PageRank over the batch's entity co-occurrence graph,
    then the triples and ranks read back."""

    name = "batch_neural_rank"
    COMPARED = ("n_triples", "triples_hash", "n_nodes", "ranks_hash")
    EXPECTED_SEED42 = {"n_triples": 8982, "triples_hash": "1c84fc107ff2b463", "n_nodes": 8}

    def setup(self, seed: int):
        from neuroner_spark.io import local_df
        from neuroner_spark.model.weights import make_bundle

        inp = types.SimpleNamespace(
            pages=local_df(self.spark, inputs.page_rows(inputs.page_texts(seed, self.n_pages), "a"), PAGE_SCHEMA),
            aliases=_aliases(self.spark),
            bundle=make_bundle(1 << 16, seed=BUNDLE_SEED),
        )
        for df in (inp.pages, inp.aliases):
            df.count()
        return inp

    def warm_up(self, inp, work: str) -> dict:
        """One cold unit: it warms the JIT, Spark's generated code and the
        Python workers, and its outputs are the reference."""
        return self.unit(inp, work, 0)[1]

    def unit(self, inp, work: str, k: int) -> tuple[dict, dict]:
        from neuroner_spark.io import read_table
        from neuroner_spark.operators.graph_rank import pagerank
        from neuroner_spark.plans.kg_pipeline import run_pipeline

        out_dir = os.path.join(work, f"batch-{k}")
        before = persisted_rdds(self.spark)
        t0 = time.perf_counter()
        res = run_pipeline(
            self.spark, inp.pages, inp.aliases, out_dir,
            resume=False, mention_source="neural", bundle=inp.bundle,
        )
        t1 = time.perf_counter()
        log: list = []
        ranks = pagerank(
            _co_occurrence_edges(res["triples"]), undirected=True,
            max_iter=RANK_ITER, tol=0.0, iteration_log=log,
        )
        t2 = time.perf_counter()
        triples = read_table(self.spark, os.path.join(out_dir, "triples")).toPandas()
        ranks_pdf = ranks.toPandas()
        t3 = time.perf_counter()
        ranks.unpersist()
        walls = {
            "kg_wall_s": t1 - t0,
            "rank_wall_s": t2 - t1,
            "snapshot_visible_s": t3 - t0,
            "persisted_rdds_leaked": persisted_rdds(self.spark) - before,
        }
        return walls, self.outputs(triples, ranks_pdf)

    @staticmethod
    def outputs(triples: pd.DataFrame, ranks: pd.DataFrame) -> dict:
        want = power_iteration(_co_occurrence_pairs(triples), RANK_ITER)
        got = dict(zip(ranks["node"].astype(int), ranks["rank"]))
        return {
            "n_triples": len(triples),
            "triples_hash": content_hash(triples),
            "n_nodes": len(ranks),
            "ranks_hash": content_hash(ranks),
            "errors": triple_errors(triples) + rank_errors(got, want),
        }

    def traced(self, spans: Spans, inp, work: str) -> dict:
        from neuroner_spark.functions.normalize import surface_norm
        from neuroner_spark.io import read_table
        from neuroner_spark.model.tagger import tag_tokens
        from neuroner_spark.operators.graph_rank import pagerank
        from neuroner_spark.operators.spans import extract_spans
        from neuroner_spark.plans.kg_pipeline import canonical_map

        spark, out_dir = self.spark, os.path.join(work, "traced")

        def neural_mentions(stage, tokens):
            tagged = stage("model.tagger", "tagged", lambda: tag_tokens(spark, tokens, inp.bundle))
            return stage(
                "operators.spans", "mentions",
                lambda: extract_spans(tagged, label_col="label").select(
                    "doc_id", "sent_id",
                    F.col("tok_pos").cast("int").alias("pos"),
                    F.col("n_tokens").cast("int").alias("n"),
                    "surface", surface_norm(F.col("surface")).alias("surface_norm"),
                    "start", "end",
                ),
            )

        tokens, triples = traced_pipeline(
            spans, spark, inp.pages, inp.aliases, out_dir, neural_mentions,
            lambda: canonical_map(inp.aliases),
        )
        log: list = []
        with spans.span("operators.graph_rank") as s:
            ranks = pagerank(
                _co_occurrence_edges(triples), undirected=True,
                max_iter=RANK_ITER, tol=0.0, iteration_log=log,
            )
            s["rows_out"] = len(log)
        with spans.span("plans.kg_pipeline.read") as s:
            triples_pdf = read_table(spark, os.path.join(out_dir, "triples")).toPandas()
            ranks_pdf = ranks.toPandas()
            s["rows_out"] = len(triples_pdf) + len(ranks_pdf)
        ranks.unpersist()
        extra = self.model_layers(spans, inp, tokens)
        extra["rounds"] = [r["wall_sec"] for r in log]
        extra["bytes_written"] = dir_bytes(out_dir)
        return {"outputs": self.outputs(triples_pdf, ranks_pdf), "extra": extra}

    def model_layers(self, spans: Spans, inp, tokens) -> dict:
        """Driver-side timings of the tagger's body and of the model's
        kernels over the workload's own sentences."""
        import zlib

        from neuroner_spark.model import bilstm_crf
        from neuroner_spark.model.tagger import _encode_flat, make_tag_fn, sentences_from_tokens

        sents = sentences_from_tokens(tokens).toPandas().sort_values(["doc_id", "sent_id"], ignore_index=True)
        tag_fn = make_tag_fn(types.SimpleNamespace(value=inp.bundle))
        batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        t0 = time.perf_counter()
        for _ in tag_fn(sents.iloc[i : i + batch_rows] for i in range(0, len(sents), batch_rows)):
            pass
        driver_tag_s = time.perf_counter() - t0
        tagger = next(s for s in spans.spans if s["name"] == "model.tagger")
        tag_stage_s = spans.longest_stage_run_s(tagger["group"])

        arrays, n = inp.bundle["arrays"], inp.bundle["vocab_size"]
        batch = sents.iloc[:512]
        lengths = np.fromiter((len(t) for t in batch["token_arr"]), dtype=np.int64)
        flat = np.concatenate([np.asarray(t, dtype=object) for t in batch["token_arr"]])

        def vmap(uniq):
            return np.fromiter((zlib.crc32(t.encode("utf-8")) % (n - 1) + 1 for t in uniq), dtype=np.int64, count=len(uniq))

        token_ids, char_feat, _, _ = _encode_flat(flat, lengths, vmap, arrays)

        def median_of(fn, reps=5):
            walls = []
            for _ in range(reps):
                t = time.perf_counter()
                fn()
                walls.append(time.perf_counter() - t)
            return statistics.median(walls)

        fwd_s = median_of(lambda: bilstm_crf.forward_features(token_ids, char_feat, lengths, arrays))
        scores = bilstm_crf.forward_scores_feat(token_ids, char_feat, lengths, arrays)
        vit_s = median_of(lambda: bilstm_crf.viterbi_decode(scores, lengths, arrays["crf_transitions"]))
        n_tok = int(lengths.sum())
        return {
            "arrow_boundary_s": tag_stage_s - driver_tag_s,
            "forward_tokens_per_s": n_tok / fwd_s,
            "viterbi_tokens_per_s": n_tok / vit_s,
        }


def rekeyed(triples: pd.DataFrame, superseded: pd.DataFrame) -> pd.DataFrame:
    """The store's consistent view, derived on the driver: retired ids
    follow their superseded chain, symmetric predicates are re-ordered,
    self-loops dropped and duplicates folded."""
    from neuroner_spark.plans.kg_pipeline import SYMMETRIC_PREDS

    nxt = dict(zip(superseded["old_canonical_id"].astype(int), superseded["canonical_id"].astype(int)))

    def final(x: int) -> int:
        seen = set()
        while x in nxt and x not in seen:
            seen.add(x)
            x = nxt[x]
        return x

    t = triples.copy()
    for side in ("subj", "obj"):
        t[side] = t[side].map(lambda x: final(int(x))).astype(triples[side].dtype)
    sym = t["pred"].isin(SYMMETRIC_PREDS)
    lo, hi = np.minimum(t["subj"], t["obj"]), np.maximum(t["subj"], t["obj"])
    t.loc[sym, "subj"], t.loc[sym, "obj"] = lo[sym], hi[sym]
    return t[t["subj"] != t["obj"]].drop_duplicates()


class IncrementalGazetteer(Workload):
    """One crawl snapshot into a seeded incremental store with
    ``run_incremental_kg`` (dedup gate, canonical merge, gazetteer
    pipeline, triple append), then the whole store read back through
    ``read_kg_triples``.  Every unit starts from a copy of the same
    pristine store holding snapshot 0."""

    name = "incremental_gazetteer"
    COMPARED = ("n_snapshot_triples", "snapshot_hash", "n_read", "read_hash", "pages_dropped", "retired")
    EXPECTED_SEED42 = {
        "n_snapshot_triples": 9527,
        "snapshot_hash": "884cd3672811e074",
        "n_read": 28377,
        "read_hash": "c66e917651a5bdf1",
        "pages_dropped": 254,
    }

    def setup(self, seed: int):
        from neuroner_spark.io import local_df

        snap0, snap1 = inputs.incremental_split(seed, self.n_pages)
        inp = types.SimpleNamespace(
            snap0=local_df(self.spark, snap0, PAGE_SCHEMA),
            snap1=local_df(self.spark, snap1, PAGE_SCHEMA),
            sameas=local_df(self.spark, [SAMEAS_EDGE], "src long, dst long"),
            aliases=_aliases(self.spark),
        )
        for df in (inp.snap0, inp.snap1, inp.sameas, inp.aliases):
            df.count()
        return inp

    def warm_up(self, inp, work: str) -> None:
        """Seed the pristine store with snapshot 0.  That is the call a
        unit makes, so it also warms the JIT and the Python workers.  It
        returns no reference: the first timed unit is one."""
        from neuroner_spark.plans.kg_pipeline import run_incremental_kg

        run_incremental_kg(self.spark, inp.snap0, inp.aliases, os.path.join(work, "pristine"), 0)

    def _fresh_store(self, work: str, tag: str) -> str:
        store = os.path.join(work, f"store-{tag}")
        shutil.copytree(os.path.join(work, "pristine"), store)
        return store

    def unit(self, inp, work: str, k: int) -> tuple[dict, dict]:
        from neuroner_spark.plans.kg_pipeline import read_kg_triples, run_incremental_kg

        store = self._fresh_store(work, str(k))
        before = persisted_rdds(self.spark)
        t0 = time.perf_counter()
        run_incremental_kg(self.spark, inp.snap1, inp.aliases, store, 1, new_sameas_edges=inp.sameas)
        t1 = time.perf_counter()
        view = read_kg_triples(self.spark, store).toPandas()
        t2 = time.perf_counter()
        walls = {
            "kg_wall_s": t1 - t0,
            "snapshot_visible_s": t2 - t0,
            "persisted_rdds_leaked": persisted_rdds(self.spark) - before,
        }
        return walls, self.outputs(store, view)

    def outputs(self, store: str, view: pd.DataFrame) -> dict:
        import pyarrow.parquet as pq

        def table(*parts):
            return pq.read_table(os.path.join(store, *parts)).to_pandas()

        snap = table("triples", "snapshot=1")
        decisions = table("dedup", "decisions", "snapshot=1")
        superseded = table("canonical", "superseded")
        expected = rekeyed(pd.concat([table("triples", "snapshot=0"), snap]), superseded)
        read_hash = content_hash(view)
        dropped = int((decisions["status"] != "kept").sum())
        errors = triple_errors(snap)
        if read_hash != content_hash(expected):
            errors.append("read_kg_triples differs from the store re-keyed on the driver")
        if superseded.empty:
            errors.append("the same-as edge retired no id")
        if dropped < self.n_pages // 2:
            errors.append(f"the dedup gate dropped {dropped} pages, fewer than the re-crawls")
        return {
            "n_snapshot_triples": len(snap),
            "snapshot_hash": content_hash(snap),
            "n_read": len(view),
            "read_hash": read_hash,
            "pages_dropped": dropped,
            "retired": sorted(int(x) for x in superseded["old_canonical_id"]),
            "errors": errors,
        }

    def traced(self, spans: Spans, inp, work: str) -> dict:
        from neuroner_spark.operators.gazetteer import match_mentions
        from neuroner_spark.plans import kg_pipeline as kg
        from neuroner_spark.plans.corpus_pipeline import run_incremental_snapshot

        spark = self.spark
        store = self._fresh_store(work, "traced")
        size0 = dir_bytes(store)
        dedup_dir = os.path.join(store, "dedup")
        with spans.span("plans.corpus_pipeline.dedup_gate") as s:
            dedup0 = dir_bytes(dedup_dir)
            ded = run_incremental_snapshot(
                spark, inp.snap1.select(F.xxhash64("url").alias("doc_id"), F.col("text")),
                dedup_dir, 1, fast_hash=True,
            )
            s["rows_out"] = ded["n_kept"]
        dedup_extra = {
            "pages_dropped": ded["n_dup_of_corpus"] + ded["n_dup_of_batch"],
            "store_bytes_written": dir_bytes(dedup_dir) - dedup0,
        }
        kept_ids = ded["decisions"].filter(F.col("status") == "kept").select(F.col("doc_id").alias("_k"))
        kept = inp.snap1.join(kept_ids, F.xxhash64("url") == F.col("_k"), "left_semi")
        # run_incremental_kg's same-as evidence: alias-share edges, an
        # identity edge per dictionary entity, and the caller's edges
        edges = kg.sameas_edges_from_aliases(inp.aliases).unionByName(
            inp.aliases.select(F.col("entity_id").cast("long").alias("src")).distinct().withColumn("dst", F.col("src"))
        ).unionByName(inp.sameas)
        with spans.span("operators.components") as s:
            res = kg.run_incremental_canonical(spark, edges, os.path.join(store, "canonical"), 1)
            s["rows_out"] = res["n_entities"]
        _, triples = traced_pipeline(
            spans, spark, kept, inp.aliases, os.path.join(store, "runs", "snapshot=1"),
            lambda stage, tokens: stage(
                "operators.gazetteer", "mentions", lambda: match_mentions(tokens, inp.aliases)
            ),
            lambda: res["mapping"],
        )
        with spans.span("io") as s:
            _, s["rows_out"] = materialize(spark, triples, os.path.join(store, "triples", "snapshot=1"))
        with spans.span("plans.kg_pipeline.read") as s:
            view = kg.read_kg_triples(spark, store).toPandas()
            s["rows_out"] = len(view)
        extra = {"dedup": dedup_extra, "bytes_written": dir_bytes(store) - size0}
        return {"outputs": self.outputs(store, view), "extra": extra}


WORKLOADS = {w.name: w for w in (BatchNeuralRank, IncrementalGazetteer)}
