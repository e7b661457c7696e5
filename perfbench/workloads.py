"""The benchmark workloads.

Each workload generates its inputs from the seed before Spark starts,
makes one timed *call* per loop iteration (the call includes the action
that forces its result), and checks every output against the repo's
existing oracles outside the timed region. ``layers`` runs only in a
traced run: it times single layers, each forced alone on a materialized
input, and in-process kernel bodies with no Spark involved.

Why these two (later changes refer to them by name):

- ``extract_bulk``: data volume dominates. Nearly all of the time is the
  arrow_engine / classify_frame kernel plus the Arrow boundary.
- ``parse_small``: the fixed cost per call dominates (planning, job
  launch, Python workers, directory listing, codecs, a parquet write).
  A kernel gain should not move it; a fixed-cost cut should.

``Curate`` is not a workload of its own: its calls take several seconds,
too few fit in a run to give a steady median. ``parse_small``'s traced
run makes two of them (shuffles, joins, eager lineage cuts and driver
steps of build_training_set and SemDeDup; arrow_engine does no work),
checks them against the DuckDB oracles and times their stages.
"""

from __future__ import annotations

import os
import statistics

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from tracing import Tracer

NOOP = "noop"

_SPANS_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def _noop(df) -> None:
    df.write.format(NOOP).mode("overwrite").save()


def _span_key(spans) -> int:
    return hash(
        tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or ())
    )


class Workload:
    name = ""
    #: documents one call consumes (denominator of docs_per_s, failed_frac)
    docs_per_call = 0
    #: documents of the extra, untimed call ``check`` makes, if any
    check_call_docs = 0
    #: untimed warm-up calls after set-up's first call
    warmup_calls: int

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.layer: dict[str, float] = {}

    def prepare(self) -> None:
        """Generate and stage inputs (before Spark starts)."""

    def describe(self) -> str:
        """The generated inputs, in one line."""
        raise NotImplementedError

    def before_call(self, i: int) -> None:
        """Untimed per-call preparation."""

    def call(self, spark, i: int, tr):
        """The timed call, forced; returns what ``check`` needs."""
        raise NotImplementedError

    def warm_call(self, spark, k: int) -> None:
        """One warm-up call; its output is not kept."""
        self.before_call(-1 - k)
        self.call(spark, -1 - k, Tracer("warmup", enabled=False))

    def check(self, spark, outputs: dict) -> int:
        """Failed documents over all calls in ``outputs`` (call -> output)."""
        raise NotImplementedError

    def layers(self, spark, tr) -> None:
        """Traced run only: isolated layer timings into ``self.layer``."""


# ---------------------------------------------------------------------------


class ExtractBulk(Workload):
    name = "extract_bulk"
    N_DOCS = 10_000
    N_FILES = 16
    docs_per_call = check_call_docs = N_DOCS
    # calls drop fast over the first four (1.9 s to 1.4 s); their CPU time
    # keeps falling, by about 8%, over the next dozen. The last warm-up
    # call is the check's collect
    warmup_calls = 16

    def prepare(self) -> None:
        docs = gen.extract_corpus(self.seed, self.N_DOCS)
        self.docs_per_call = self.check_call_docs = len(docs)
        self.corpus = os.path.join(self.work, "corpus")
        os.makedirs(self.corpus)
        table = pa.Table.from_pylist(
            docs, pa.schema([("doc_id", pa.string()), ("spans", _SPANS_TYPE)])
        )
        step = -(-len(docs) // self.N_FILES)
        for k in range(self.N_FILES):
            pq.write_table(
                table.slice(k * step, step),
                os.path.join(self.corpus, f"part-{k:02d}.parquet"),
            )
        from agentic_doc_spark.synth import expected_parsed

        self.expected = {
            d["doc_id"]: _span_key(expected_parsed(d)["spans"]) for d in docs
        }
        spans: dict[str, int] = {}
        for d in docs:
            profile = d["doc_id"].split("-")[0]
            spans[profile] = spans.get(profile, 0) + len(d["spans"])
        total = sum(spans.values())
        self.layer["arrow_engine.spans_in"] = float(total)
        self.span_shares = {p: round(n / total, 3) for p, n in spans.items()}

    def describe(self) -> str:
        return (
            f"{self.docs_per_call} docs, "
            f"{self.layer['arrow_engine.spans_in']:.0f} spans, "
            f"{self.N_FILES} parquet files; document shares {gen.EXTRACT_MIX}, "
            f"span shares {self.span_shares}"
        )

    def _extract(self, spark, df=None):
        from agentic_doc_spark.pipeline import extract

        return extract(df if df is not None else spark.read.parquet(self.corpus))

    def call(self, spark, i, tr):
        _noop(self._extract(spark))

    def warm_call(self, spark, k):
        if k < self.warmup_calls:
            return super().warm_call(spark, k)
        # the noop sink keeps nothing: the last warm-up call collects the
        # same extraction instead, for ``check`` to compare span by span
        self.rows = self._extract(spark).select("doc_id", "spans").toArrow().to_pylist()

    def check(self, spark, outputs) -> int:
        rows = self.rows
        got = {r["doc_id"]: _span_key(r["spans"]) for r in rows}
        kept = sum(len(r["spans"] or ()) for r in rows)
        self.layer["arrow_engine.spans_kept_frac"] = (
            kept / self.layer["arrow_engine.spans_in"]
        )
        bad = set(got) ^ set(self.expected)
        bad |= {d for d in got.keys() & self.expected.keys() if got[d] != self.expected[d]}
        return len(bad)

    def layers(self, spark, tr) -> None:
        cached = spark.read.parquet(self.corpus).cache()
        cached.count()
        times = []
        for _ in range(2):
            with tr.span("arrow_engine.extract") as sp:
                _noop(self._extract(spark, cached))
            times.append(sp.wall)
        cached.unpersist()
        self.layer["arrow_engine.extract_s"] = statistics.median(times)

        # kernel bodies, in process: one batch per staged file, as the
        # scan feeds them to mapInArrow
        import numpy as np
        import pandas as pd

        from agentic_doc_spark.arrow_engine import extract_batch
        from agentic_doc_spark.functions.classify import classify_frame

        batches = [
            pq.read_table(os.path.join(self.corpus, f)).combine_chunks().to_batches()[0]
            for f in sorted(os.listdir(self.corpus))
        ]
        with tr.span("arrow_engine.extract_batch_body") as sp:
            for b in batches:
                extract_batch(b)
        self.layer["arrow_engine.extract_batch_body_s"] = sp.wall

        frames = []
        for b in batches:  # extract_batch's flatten step, untimed
            spans = b.column("spans")
            lengths = pa.compute.list_value_length(spans).fill_null(0).to_numpy()
            flat = spans.flatten()
            frames.append(
                pd.DataFrame(
                    {
                        "kind": flat.field("kind").to_pandas(),
                        "text": flat.field("text").to_pandas(),
                        "media_ref": flat.field("media_ref").to_pandas(),
                        "offset": flat.field("offset").to_pandas(),
                        "parent": np.repeat(np.arange(b.num_rows), lengths),
                    }
                )
            )
        with tr.span("functions.classify_frame_body") as sp:
            for f in frames:
                classify_frame(f)
        self.layer["functions.classify_frame_body_s"] = sp.wall


# ---------------------------------------------------------------------------


class ParseSmall(Workload):
    name = "parse_small"
    docs_per_call = sum(gen.PARSE_MIX.values())
    # calls keep speeding up for 15 to 30 calls (1.4 s down to 0.85 s): the
    # planning and launch code this workload measures is still compiling.
    # Ten warm-up calls take the steepest part
    warmup_calls = 10

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self.expected: dict[int, dict] = {}
        self.decoded = 0
        self.checked = 0
        self.curate: Curate | None = None
        self.curate_out: dict[int, object] = {}

    def describe(self) -> str:
        return f"{self.docs_per_call} fresh files per call: {gen.PARSE_MIX}"

    def _stage(self, i: int) -> str:
        d = os.path.join(self.work, f"in-{i:05d}")
        os.makedirs(d)
        files = gen.parse_files(self.seed, i)
        for name, (data, _) in files.items():
            with open(os.path.join(d, name), "wb") as f:
                f.write(data)
        self.expected[i] = files
        return d

    def before_call(self, i):
        self._stage(i)

    def call(self, spark, i, tr):
        from agentic_doc_spark.api import parse

        out = os.path.join(self.work, f"out-{i:05d}")
        parse(spark, os.path.join(self.work, f"in-{i:05d}"), result_save_dir=out)
        return out

    def check(self, spark, outputs) -> int:
        # per-file span count and markdown against the generator's known
        # content (the q_ingest_extract / q_pdf_ingest / q_raster_ingest
        # oracle pattern)
        failed = 0
        for i, out in outputs.items():
            files = self.expected[i]
            rows = pq.read_table(out, columns=["doc_id", "markdown", "spans", "errors"]).to_pylist()
            seen = set()
            for r in rows:
                name = r["doc_id"].rsplit("/", 1)[-1]
                seen.add(name)
                exp = files.get(name, (None, None))[1]
                if isinstance(exp, int):  # TIFF: one media span per page
                    refs = [f"imgdoc://{r['doc_id']}/p{k}" for k in range(exp)]
                    md = "\n\n".join(f"![{m}]({m})" for m in refs)
                    n = exp
                else:
                    md = "\n\n".join(exp or ())
                    n = len(exp or ())
                ok = exp is not None and len(r["spans"] or ()) == n and r["markdown"] == md
                failed += not ok
                self.decoded += bool(r["spans"]) and not r["errors"]
            failed += len(files.keys() - seen)
            self.checked += len(files)
        self.layer["sources.decoded_frac"] = self.decoded / max(1, self.checked)
        if self.curate is not None:
            failed += self.curate.check(spark, self.curate_out)
            self.layer |= self.curate.layer
        return failed

    def layers(self, spark, tr) -> None:
        from agentic_doc_spark.pipeline import extract
        from agentic_doc_spark.sources.layout import (
            layout_parse,
            route_doc_types,
            split_blocks,
        )
        from agentic_doc_spark.sources.resolve import resolve

        t = {k: [] for k in ("resolve", "layout", "write", "split")}
        for k in range(3):
            i = 90_000 + k
            d = self._stage(i)
            with tr.span("sources.resolve", k) as sp:
                raw = resolve(spark, d)
            t["resolve"].append(sp.wall)
            with tr.span("sources.layout_parse", k) as sp:
                _noop(layout_parse(route_doc_types(raw)))
            t["layout"].append(sp.wall)
            parsed = extract(layout_parse(route_doc_types(raw))).localCheckpoint()
            with tr.span("api.result_write", k) as sp:
                parsed.write.mode("append").parquet(os.path.join(self.work, f"out-{i:05d}"))
            t["write"].append(sp.wall)

            blobs = [
                (data, "pdf" if n.endswith(".pdf") else "html" if n.endswith(".html") else "image")
                for n, (data, _) in self.expected[i].items()
                if not n.endswith(".tiff")  # rasters take the page-walk path
            ]
            with tr.span("sources.split_blocks_body", k) as sp:
                for data, dt in blobs:
                    split_blocks(data, dt)
            t["split"].append(sp.wall)
        med = {k: statistics.median(v) for k, v in t.items()}
        self.layer["sources.resolve_s"] = med["resolve"]
        self.layer["sources.layout_parse_s"] = med["layout"]
        self.layer["api.result_write_s"] = med["write"]
        self.layer["sources.split_blocks_body_s"] = med["split"]

        # curate: a cold call, a warm one, then its stages one by one
        self.curate = Curate(self.seed, os.path.join(self.work, "curate"))
        os.makedirs(self.curate.work)
        self.curate.prepare()
        for k in range(2):
            with tr.span("curate.call", k):
                self.curate_out[k] = self.curate.call(spark, k, tr)
        self.check_call_docs = len(self.curate_out) * self.curate.docs_per_call
        self.curate.layers(spark, tr)


# ---------------------------------------------------------------------------


class Curate(Workload):
    """build_training_set with q_training_set's parameters, then
    semantic_dedup(0.3); run from ``ParseSmall.layers``."""

    name = "curate"
    N_DOCS = 3_000
    N_VECS = 3_000
    docs_per_call = N_DOCS + N_VECS
    # q_training_set's parameters
    LANG_RATES = {"en": 0.5, "de": 0.2}
    DEFAULT_RATE = 0.05
    BUDGET = 512

    def prepare(self) -> None:
        docs = gen.curate_corpus(self.seed, self.N_DOCS)
        ids, vecs = gen.curate_embeddings(self.seed, self.N_VECS)
        self.docs_path = os.path.join(self.work, "documents.parquet")
        self.emb_path = os.path.join(self.work, "embeddings.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in docs], pa.int64()),
                    "text": [t for _, t in docs],
                }
            ),
            self.docs_path,
        )
        pq.write_table(
            pa.table(
                {"vec_id": ids, "embedding": pa.array(list(vecs), pa.list_(pa.float32()))}
            ),
            self.emb_path,
        )

    def describe(self) -> str:
        per_cluster = self.N_VECS // gen.EMB_CLUSTERS
        return (
            f"{self.N_DOCS} docs, languages {gen.CURATE_LANGS}, "
            f"duplicate rate {gen.CURATE_DUP_RATE}, "
            f"eval overlap {gen.CURATE_EVAL_OVERLAP}; {self.N_VECS} "
            f"{gen.EMB_DIM}-dim vectors, {gen.EMB_CLUSTERS} clusters of "
            f"{per_cluster}-{per_cluster + 1}"
        )

    def _read(self, spark, path: str):
        # same physical shape as __spark_entry__._docs / _emb: one file
        # arrives as one scan partition, spread over the session's cores
        return spark.read.parquet(path).repartition(
            spark.sparkContext.defaultParallelism
        )

    def call(self, spark, i, tr):
        from agentic_doc_spark.operators.similarity import semantic_dedup
        from agentic_doc_spark.pipeline_llm import build_training_set

        with tr.span("pipeline_llm.build", i):
            docs = self._read(spark, self.docs_path).select("doc_id", "text")
            out = build_training_set(
                docs,
                benchmark=docs.filter(F.col("doc_id") % 17 == 0).select("text"),
                min_quality=0.3,
                near_dup_threshold=None,
                lang_rates=self.LANG_RATES,
                default_lang_rate=self.DEFAULT_RATE,
                pack_budget=self.BUDGET,
            )
        with tr.span("pipeline_llm.force", i):
            ts = out.select(
                "doc_id",
                "pred_lang",
                F.round(F.col("quality").cast("double"), 6).alias("quality"),
                "n_tokens",
                F.col("running").cast("long").alias("running"),
                "bin_id",
            ).collect()
        with tr.span("similarity.semantic_dedup", i):
            emb = self._read(spark, self.emb_path).select(
                "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
            )
            sd = semantic_dedup(emb, threshold=0.3).select("vec_id", "cell").collect()
        return [tuple(r) for r in ts], [tuple(r) for r in sd]

    def check(self, spark, outputs) -> int:
        # the unmodified DuckDB twins of q_training_set / q_semantic_dedup
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.docs_path}')")
            con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{self.emb_path}')")
            want_ts = {r[0]: r for r in con.execute(sql["training_set"]).fetchall()}
            want_sd = {r[0]: r for r in con.execute(sql["semantic_dedup"]).fetchall()}
        finally:
            con.close()

        def bad(rows, want) -> int:
            got = {r[0]: r for r in rows}
            diff = got.keys() ^ want.keys()
            diff |= {k for k in got.keys() & want.keys() if got[k] != want[k]}
            return len(diff)

        failed = 0
        for ts, sd in outputs.values():
            failed += bad(ts, want_ts) + bad(sd, want_sd)
        if outputs:
            ts, sd = next(iter(outputs.values()))
            self.layer["packing.bins"] = float(len({r[5] for r in ts}))
            self.layer["similarity.survivor_frac"] = len(sd) / self.N_VECS
        return failed

    def layers(self, spark, tr) -> None:
        """build_training_set's stages one by one, each forced alone (into a
        local checkpoint) on the previous stage's materialized output."""
        from agentic_doc_spark.functions.textstats import (
            text_profile_fast,
            token_count_ws,
        )
        from agentic_doc_spark.operators.dedup import decontaminate, dedup_exact
        from agentic_doc_spark.operators.packing import (
            pack_sequences,
            sample_stratified,
        )

        docs = self._read(spark, self.docs_path).select("doc_id", "text").localCheckpoint()

        def stage(name, df):
            with tr.span(name) as sp:
                out = df.localCheckpoint()
            self.layer[name + "_s"] = sp.wall
            return out

        prof = stage("textstats.text_profile_fast", text_profile_fast(docs))
        prof = prof.filter(F.col("quality") >= 0.3).localCheckpoint()
        canon = stage("dedup.dedup_exact", dedup_exact(prof).filter(F.col("is_canonical")))
        deduped = prof.join(canon.select("doc_id"), "doc_id", "left_semi").localCheckpoint()
        n_prof, n_dedup = prof.count(), deduped.count()
        bench = docs.filter(F.col("doc_id") % 17 == 0).select("text")
        clean = stage("dedup.decontaminate", decontaminate(deduped, bench, k=3))
        n_clean = clean.count()
        sampled = stage(
            "packing.sample_stratified",
            sample_stratified(
                clean, self.LANG_RATES, "pred_lang", "doc_id", default_rate=self.DEFAULT_RATE
            ),
        ).withColumn("n_tokens", token_count_ws(F.col("text")).cast("long"))
        sampled = sampled.localCheckpoint()
        with tr.span("packing.pack_sequences") as sp:
            pack_sequences(sampled, self.BUDGET, order_col="doc_id", tokens_col="n_tokens").localCheckpoint()
        self.layer["packing.pack_sequences_s"] = sp.wall
        self.layer["dedup.exact_removed"] = float(n_prof - n_dedup)
        self.layer["dedup.decontaminated"] = float(n_dedup - n_clean)


WORKLOADS = {w.name: w for w in (ExtractBulk, ParseSmall)}
