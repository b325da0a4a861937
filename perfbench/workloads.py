"""The benchmark's workloads: set-up, one operation, and output checks.

Each workload calls the engine's public functions with their default
implementation selectors (no ``strategy``/``kernel``/``chunker``/
``assign``/``mode``/``ranker``/``score_dtype`` argument), passing only
inputs and semantic parameters. Every call into a layer goes through
``tracer.call`` so a traced run can attribute time and Spark stages.

Sizes are far below the paper's 100k-1M documents: on a 4-core
``local[4]`` machine each Spark call costs 0.3-3 s of mostly fixed job
overhead, and one run has to stay near a minute so that many runs per
workload fit in about an hour. The sizes still put thousands of rows
through every layer, so per-row costs show next to the fixed ones.
"""

from __future__ import annotations

import os

import numpy as np

import checks
from stats import median, summarize

K_VALUES = (5, 10, 20)


def _seed(*parts: int) -> int:
    """Deterministic derived seed (stable across processes, unlike hash())."""
    h = 1469598103934665603
    for p in parts:
        h = ((h ^ (p & 0xFFFFFFFF)) * 1099511628211) % (1 << 61)
    return h % 2_000_000_000


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, total bytes of parquet files) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def query_stream(pool: int, n: int, rng, zipf_s: float) -> list[int]:
    """Pool indices of the first ``n`` queries of one call kind. Even
    positions send a query the stream has not sent yet, the next one in
    a seed-shuffled order of the pool; odd positions repeat a query it
    has sent, chosen with Zipf(``zipf_s``) weight by the order in which
    the queries were first sent, so the earliest ones repeat most. Every
    second call of a kind therefore repeats an earlier query of that
    kind, however few calls a run makes. After ``pool`` fresh queries
    the order starts over."""
    order = rng.permutation(pool)
    out, sent = [], []
    for j in range(n):
        if j % 2 == 0:
            q = int(order[len(sent) % pool])
            sent.append(q)
        else:
            w = 1.0 / np.arange(1, len(sent) + 1) ** zipf_s
            q = sent[int(rng.choice(len(sent), p=w / w.sum()))]
        out.append(q)
    return out


class Workload:
    name = ""
    ROTATION = 1  # op kinds cycle with this period; a run ends on a whole cycle
    WARMUP_OPS = 1  # untimed operations before the timed run

    def __init__(self, spark, tracer, tmp: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.tmp = tmp
        self.seed = seed
        # benchmark-side counts: a number, or one value per operation
        self.counters: dict[str, float | list] = {}
        self.failures: list[str] = []

    def fail(self, msg: str) -> None:
        self.failures.append(msg)

    def add(self, key: str, value: float) -> None:
        self.counters.setdefault(key, []).append(value)

    def setup(self) -> None:
        """Build the state the operations run against (timed as set-up)."""

    def prepare_checks(self) -> None:
        """Reference data for the output checks (not part of set-up)."""

    def run_op(self, op: int):
        """Run one operation; returns ``(items, kind, check)`` where
        ``check`` runs the output checks outside the timed region."""
        raise NotImplementedError

    def finish(self) -> bool:
        """Post-run operation and checks; True if there was one."""
        return False

    def details(self, op_s, items, kinds) -> list[tuple]:
        """Workload-specific ``(name, value, unit, samples)`` lines."""
        return []


class Pipeline(Workload):
    """One op = one experiment config of the paper's batch dataflow on a
    fresh corpus (seed derived from the run seed and the config index):
    generate documents, queries and qrels; encode; write the vector
    index; batched exact top-k for the queries in vector mode and in
    hybrid mode (category predicate); evaluate.

    Traced runs end with a recrawl curation batch as the post-run
    operation (see :meth:`finish`).
    """

    name = "pipeline"
    DOCS = 2000
    QUERIES = 100
    # The warm-up config runs every step of a config on a smaller corpus:
    # first-use start-up (JIT, Python workers, Spark ML and writer classes)
    # does not depend on corpus size, and a full-size warm-up would take
    # time the run budget gives to the timed configs.
    WARMUP_DOCS = 500
    K = 20
    CHECK_QUERIES = 8
    # recrawl curation (traced runs only)
    REF_DOCS = 400
    RECRAWL_DOCS = 500
    DUP_FRAC = 0.7
    SPAN_TOKENS = 20

    def run_op(self, op: int):
        from pyspark.sql import functions as F

        from semantic_vector_search_system_spark.datagen import (
            CATEGORIES,
            generate_documents,
            generate_queries_and_qrels,
        )
        from semantic_vector_search_system_spark.operators.encode import HashingEncoderFast
        from semantic_vector_search_system_spark.operators.metrics import evaluate_all
        from semantic_vector_search_system_spark.operators.search import topk_bruteforce
        from semantic_vector_search_system_spark.sources.parquet_index import (
            write_vector_index,
        )

        tr, spark = self.tr, self.spark
        cfg_seed = _seed(self.seed, 2, op)
        docs = self.DOCS if op >= 0 else self.WARMUP_DOCS
        with tr.call("datagen", "generate_documents") as sp:
            corpus = generate_documents(spark, docs, seed=cfg_seed).cache()
            sp.items = corpus.count()
        with tr.call("datagen", "generate_queries_and_qrels") as sp:
            queries, qrels = generate_queries_and_qrels(corpus, self.QUERIES, seed=cfg_seed)
            queries, qrels = queries.cache(), qrels.cache()
            sp.items = queries.count() + qrels.count()
        enc = HashingEncoderFast(512)
        with tr.call("encode", "encode") as enc_sp:
            vecs = enc.encode(corpus).select(
                F.col("id").alias("docid"), "vec", "category"
            ).cache()
            qvec = enc.encode(queries, text_col="query").select(
                F.col("id").alias("qid"), F.col("vec").alias("qvec")
            ).cache()
            enc_sp.items = vecs.count() + qvec.count()
        index_dir = os.path.join(self.tmp, f"pipeline_index_{op}")
        with tr.call("parquet_index", "write_vector_index") as wr_sp:
            write_vector_index(vecs, index_dir)
            wr_sp.items = docs
        self.add("ingest_s", enc_sp.seconds + wr_sp.seconds)

        cat = CATEGORIES[op % len(CATEGORIES)]
        with tr.call("search", "topk_bruteforce", "batch") as sp:
            vec_res = topk_bruteforce(qvec, vecs, k=self.K).cache()
            vec_res.count()
            sp.items = docs
        self.add("batch_call_s", sp.seconds)
        with tr.call("search", "topk_bruteforce", "batch") as sp:
            hyb_res = topk_bruteforce(
                qvec, vecs, k=self.K, predicate=F.col("category") == cat
            ).cache()
            hyb_res.count()
            sp.items = docs
        self.add("batch_call_s", sp.seconds)
        # hybrid queries are evaluated as their own qids ("h" + qid)
        retrievals = vec_res.unionByName(
            hyb_res.withColumn("qid", F.concat(F.lit("h"), "qid"))
        )
        all_qrels = qrels.unionByName(qrels.withColumn("qid", F.concat(F.lit("h"), "qid")))
        with tr.call("metrics", "evaluate_all") as sp:
            summary = evaluate_all(retrievals, all_qrels, K_VALUES).collect()[0]
            sp.items = 2 * self.QUERIES

        def check() -> None:
            self._check(op, docs, index_dir, vecs, qvec, vec_res, hyb_res, qrels, cat, summary)
            for df in (corpus, queries, qrels, vecs, qvec, vec_res, hyb_res):
                df.unpersist()

        return docs, "config", check

    def details(self, op_s, items, kinds) -> list[tuple]:
        per_op = [n / t for n, t in zip(items, op_s)]
        ingest = [self.DOCS / t for t in self.counters.get("ingest_s", [])]
        batch = [self.QUERIES / t for t in self.counters.get("batch_call_s", [])]
        return [
            ("docs_per_s", median(per_op) if per_op else None, "docs/s", len(per_op)),
            ("ingest_vps", median(ingest) if ingest else None, "vectors/s", len(ingest)),
            ("search_batch_qps", median(batch) if batch else None, "queries/s", len(batch)),
        ]

    def _check(self, op, docs, index_dir, vecs, qvec, vec_res, hyb_res, qrels, cat,
               summary) -> None:
        files, size = _dir_stats(index_dir)
        self.add("index_files", files)
        self.add("index_bytes_per_vector", size / docs)
        pdf = vecs.toPandas()
        ids = pdf["docid"].to_numpy()
        D = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        in_cat = (pdf["category"] == cat).to_numpy()
        q = {r["qid"]: np.asarray(r["qvec"], dtype=np.float64) for r in qvec.collect()}
        got_v, got_h = {}, {}
        for res, got in ((vec_res, got_v), (hyb_res, got_h)):
            for r in res.orderBy("qid", "rank").collect():
                got.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        for qid in sorted(q)[: self.CHECK_QUERIES]:
            scores = D @ q[qid]
            msg = checks.topk_matches(got_v.get(qid, []), ids, scores, self.K)
            msg = msg or checks.topk_matches(
                got_h.get(qid, []), ids[in_cat], scores[in_cat], self.K
            )
            if msg:
                self.fail(f"op {op}: exact top-k for {qid}: {msg}")
        rel = {}
        for r in qrels.collect():
            rel.setdefault(r["qid"], set()).add(r["docid"])
            rel.setdefault("h" + r["qid"], set()).add(r["docid"])
        retrieved = {q_: [d for d, _ in rows] for q_, rows in got_v.items()}
        retrieved.update({"h" + q_: [d for d, _ in rows] for q_, rows in got_h.items()})
        ref = checks.retrieval_metrics(retrieved, rel, K_VALUES)
        for key, want in ref.items():
            if not checks.close(summary[key], want):
                self.fail(f"op {op}: evaluate_all {key}={summary[key]} != recompute {want}")

    def finish(self) -> bool:
        """Traced runs only: one recrawl batch through curation, against
        state stored from a reference corpus. The batch is ``DUP_FRAC``
        regenerated reference documents (same id and text: planted exact
        duplicates) and new ones; it runs ``incremental_neardup`` against
        the stored signature index, the stored-state curation funnel
        (``update_index=False``) and ``span_dedup``. Its set-up (MinHash
        index, LM fit) costs about 20 s of first-use start-up, more than
        every run's budget allows, and it feeds no end-to-end metric."""
        if not self.tr.enabled:
            return False
        from semantic_vector_search_system_spark.datagen import generate_documents
        from semantic_vector_search_system_spark.operators.curation import (
            incremental_curation_funnel_stored,
            write_funnel_state,
        )
        from semantic_vector_search_system_spark.operators.dedup import (
            incremental_neardup,
            read_neardup_index,
            write_neardup_index,
        )
        from semantic_vector_search_system_spark.operators.lexical import span_dedup

        tr, spark = self.tr, self.spark
        ref_seed = _seed(self.seed, 1)
        with tr.call("datagen", "generate_documents") as sp:
            ref = generate_documents(spark, self.REF_DOCS, seed=ref_seed).cache()
            sp.items = ref.count()
        with tr.call("dedup", "write_neardup_index") as sp:
            write_neardup_index(ref, "ref_nd", id_col="id")
            sp.items = self.REF_DOCS
        with tr.call("curation", "write_funnel_state") as sp:
            write_funnel_state(ref, "ref_funnel", doc_id="id")
            sp.items = self.REF_DOCS
        # the stored accepted-hash state: the reference corpus itself
        # went through the funnel before this recrawl
        with tr.call("curation", "incremental_curation_funnel_stored", "seed") as sp:
            incremental_curation_funnel_stored(ref, "ref_funnel", doc_id="id").count()
            sp.items = self.REF_DOCS
        with tr.call("dedup", "read_neardup_index"):
            sigs, bands, meta = read_neardup_index(spark, "ref_nd")
        ref.unpersist()

        n_dup = int(self.RECRAWL_DOCS * self.DUP_FRAC)
        n_new = self.RECRAWL_DOCS - n_dup
        batch_seed = _seed(self.seed, 6)
        off = int(np.random.default_rng(batch_seed).integers(0, self.REF_DOCS - n_dup + 1))
        with tr.call("datagen", "generate_documents") as sp:
            dup = generate_documents(spark, off + n_dup, seed=ref_seed, start=off)
            new = generate_documents(
                spark, self.REF_DOCS + n_new, seed=batch_seed, start=self.REF_DOCS
            )
            batch = dup.unionByName(new).cache()
            sp.items = batch.count()
        with tr.call("dedup", "incremental_neardup") as sp:
            nd_rows = incremental_neardup(
                batch, sigs, id_col="id",
                num_hashes=meta["num_hashes"], rows_per_band=meta["rows_per_band"],
                shingle_n=meta["shingle_n"], hash_family=meta["hash_family"],
                corpus_bands=bands, corpus_hash_family=meta["hash_family"],
            ).collect()
            sp.items = self.RECRAWL_DOCS
        with tr.call("curation", "incremental_curation_funnel_stored") as sp:
            accepted = incremental_curation_funnel_stored(
                batch, "ref_funnel", update_index=False, doc_id="id"
            ).collect()
            sp.items = self.RECRAWL_DOCS
        with tr.call("lexical", "span_dedup") as sp:
            spans = span_dedup(batch, span_tokens=self.SPAN_TOKENS, doc_id="id").collect()
            sp.items = self.RECRAWL_DOCS

        planted = {f"d{i}" for i in range(off, off + n_dup)}
        flagged = {r["id"]: r for r in nd_rows}
        bad = [d for d in planted if not (flagged.get(d) and flagged[d]["is_dup"]
                                         and flagged[d]["matched_id"] == d)]
        if bad or len(nd_rows) != self.RECRAWL_DOCS:
            self.fail(f"recrawl: {len(bad)} planted duplicates not flagged to their source")
        self.counters["dup_frac"] = sum(r["is_dup"] for r in nd_rows) / self.RECRAWL_DOCS
        acc_ids = {r["id"] for r in accepted}
        if acc_ids & planted:
            self.fail(f"recrawl: funnel accepted {len(acc_ids & planted)} planted duplicates")
        self.counters["accept_frac"] = len(acc_ids) / self.RECRAWL_DOCS
        texts = {r["id"]: r["text"] for r in batch.select("id", "text").collect()}
        chunks = {d: checks.span_chunks(t, self.SPAN_TOKENS) for d, t in texts.items()}
        distinct = {c for cs in chunks.values() for c in cs}
        if (len(spans) != len(texts)
                or any(r["n_chunks"] != len(chunks[r["id"]]) for r in spans)
                or sum(r["n_kept"] for r in spans) != len(distinct)):
            self.fail("recrawl: span_dedup chunk counts differ from the recompute")
        batch.unpersist()
        return True


class Serve(Workload):
    """One op = one single-query top-10 call, rotating in equal thirds
    between exact search over the cached corpus vectors, hybrid exact
    search with a category predicate, and IVF search over the
    manifest-layout index (64 trained lists, nprobe=4, centroids and the
    query in memory, driver-side merge). Queries come from a pool of
    pre-encoded snippets; every second call of a kind repeats an earlier
    query of that kind (:func:`query_stream`), so a cache or a batching
    change can show.

    The index is write-once while it serves. Traced runs end with one
    churn cycle on it as the post-run operation (see :meth:`finish`):
    upsert replacement vectors for ``CHURN_ROWS`` documents, query a
    replaced row through the tombstone mask, compact, and count the live
    rows.
    """

    name = "serve"
    ROTATION = 3
    WARMUP_OPS = 3
    DOCS = 3000
    LISTS = 64
    NPROBE = 4
    K = 10
    POOL = 500
    CHURN_ROWS = 300
    ZIPF_S = 1.1
    KINDS = ("exact", "hybrid", "ivf")
    # Floor on the recall@10 of IVF over the whole query pool given the
    # trained lists (seeds 1-12 gave 0.474-0.511 at these sizes): a change
    # that trains or assigns lists worse fails the run rather than buying
    # speed with recall.
    RECALL_FLOOR = 0.44

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from semantic_vector_search_system_spark.datagen import (
            generate_documents,
            generate_queries_and_qrels,
        )
        from semantic_vector_search_system_spark.operators.encode import HashingEncoderFast
        from semantic_vector_search_system_spark.operators.similarity import (
            ivf_assign_inline,
            train_ivf_centroids,
        )
        from semantic_vector_search_system_spark.sources.manifest_index import (
            write_manifest_index,
        )

        tr, spark = self.tr, self.spark
        doc_seed = _seed(self.seed, 3)
        self.enc = HashingEncoderFast(512)
        with tr.call("datagen", "generate_documents") as sp:
            docs = generate_documents(spark, self.DOCS, seed=doc_seed).cache()
            sp.items = docs.count()
        with tr.call("encode", "encode") as sp:
            self.dvec = self.enc.encode(docs).select(
                F.col("id").alias("docid"), "vec", "category"
            ).cache()
            sp.items = self.dvec.count()
        with tr.call("similarity", "train_ivf_centroids") as sp:
            self.cents = train_ivf_centroids(
                self.dvec, self.LISTS, vec_col="vec", seed=doc_seed
            ).cache()
            self.cent_rows = self.cents.collect()
            sp.items = self.DOCS
        self.path = os.path.join(self.tmp, "serve_index")
        with tr.call("similarity", "ivf_assign_inline"):
            assigned = ivf_assign_inline(self.dvec, self.cents, vec_col="vec")
        with tr.call("manifest_index", "write_manifest_index") as sp:
            write_manifest_index(
                assigned.withColumn("_batch", F.lit(0)), self.path, partition_by="cent_id"
            )
            sp.items = self.DOCS
        with tr.call("datagen", "generate_queries_and_qrels") as sp:
            queries, _ = generate_queries_and_qrels(docs, self.POOL, seed=doc_seed)
            sp.items = self.POOL
        with tr.call("encode", "encode") as sp:
            qrows = self.enc.encode(queries, text_col="query").select("id", "vec").collect()
            sp.items = len(qrows)
        docs.unpersist()
        self.pool = [(r["id"], [float(x) for x in r["vec"]]) for r in qrows]
        self.query_df = spark.createDataFrame(self.pool[:1], "qid string, qvec array<double>")
        # one stream per call kind, each long enough for any run
        self.streams = [
            query_stream(self.POOL, 2 * self.POOL, np.random.default_rng(_seed(self.seed, 5, k)),
                         self.ZIPF_S)
            for k in range(len(self.KINDS))
        ]
        self.sent: list[tuple[int, str, int]] = []  # (op, kind, pool index)

    def prepare_checks(self) -> None:
        """numpy copy of the corpus, collected outside every timing."""
        pdf = self.dvec.toPandas()
        self.ids = pdf["docid"].to_numpy()
        self.D = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        self.cat = pdf["category"].to_numpy()
        rows = sorted(self.cent_rows, key=lambda r: r["cent_id"])
        self.cids = np.array([r["cent_id"] for r in rows])
        self.C = np.array([r["cvec"] for r in rows], dtype=np.float64)
        self.cent_of = checks.nearest_list(self.D, self.cids, self.C)
        # recall@10 the trained lists give over the whole pool: each
        # IVF call is checked to equal this exact-within-probed-lists
        # answer, so this is the recall the engine's IVF delivers
        rec = []
        for _, qv in self.pool:
            q = np.asarray(qv, dtype=np.float64)
            mask = np.isin(self.cent_of, list(checks.probed_lists(q, self.cids, self.C, self.NPROBE)))
            got = checks.ranked(self.ids[mask], checks.cosine(self.D[mask], q), self.K)
            rec.append(len(set(got) & set(checks.ranked(self.ids, self.D @ q, self.K))) / self.K)
        self.pool_recall = sum(rec) / len(rec)
        if self.pool_recall < self.RECALL_FLOOR:
            self.fail(f"IVF recall@10 over the query pool {self.pool_recall:.4f} "
                      f"is below the floor {self.RECALL_FLOOR}")

    def _ivf(self, qid: str, qv: list, live: bool) -> list:
        from semantic_vector_search_system_spark.operators.similarity import (
            ivf_search_partitioned,
        )
        from semantic_vector_search_system_spark.sources.manifest_index import current_gen_dir

        with self.tr.call("manifest_index", "current_gen_dir"):
            gen_dir = current_gen_dir(self.path)
        with self.tr.call("similarity", "ivf_search_partitioned", "masked" if live else "ivf") as sp:
            rows = ivf_search_partitioned(
                self.spark, gen_dir, self.cents, self.query_df, k=self.K,
                nprobe=self.NPROBE, precollected_centroids=self.cent_rows,
                merge="driver", precollected_queries=[(qid, qv)], live=live,
            ).collect()
            sp.items = 1
        return rows

    def run_op(self, op: int):
        from pyspark.sql import functions as F

        from semantic_vector_search_system_spark.datagen import CATEGORIES
        from semantic_vector_search_system_spark.operators.search import topk_bruteforce

        # warm-up calls (op < 0) send each stream's first query
        k = op % len(self.KINDS)
        kind = self.KINDS[k]
        qi = self.streams[k][op // len(self.KINDS) + 1 if op >= 0 else 0]
        self.sent.append((op, kind, qi))
        qid, qv = self.pool[qi]
        cat = CATEGORIES[qi % len(CATEGORIES)]
        if kind == "ivf":
            rows = self._ivf(qid, qv, live=False)
        else:
            pred = F.col("category") == cat if kind == "hybrid" else None
            with self.tr.call("search", "topk_bruteforce", kind) as sp:
                rows = topk_bruteforce(
                    self.query_df, self.dvec, k=self.K,
                    precollected=([qid], np.asarray([qv], dtype=np.float64)),
                    predicate=pred,
                ).collect()
                sp.items = self.DOCS
        return 1, kind, lambda: self._check(op, kind, qv, cat, rows)

    def _check(self, op, kind, qv, cat, rows) -> None:
        q = np.asarray(qv, dtype=np.float64)
        got = [(r["docid"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        if kind == "ivf":
            lists = checks.probed_lists(q, self.cids, self.C, self.NPROBE)
            mask = np.isin(self.cent_of, list(lists))
            msg = checks.topk_matches(got, self.ids[mask], checks.cosine(self.D[mask], q), self.K)
            exact = set(checks.ranked(self.ids, self.D @ q, self.K))
            self.add("ivf_recall", len(exact & {d for d, _ in got}) / self.K)
        elif kind == "hybrid":
            m = self.cat == cat
            msg = checks.topk_matches(got, self.ids[m], self.D[m] @ q, self.K)
        else:
            msg = checks.topk_matches(got, self.ids, self.D @ q, self.K)
        if msg:
            self.fail(f"op {op} ({kind}): {msg}")

    def details(self, op_s, items, kinds) -> list[tuple]:
        out = []
        for kind in self.KINDS:
            ts = [t * 1000.0 for t, k in zip(op_s, kinds) if k == kind]
            out.append((f"{kind}_p50_ms", median(ts) if ts else None, "ms", len(ts)))
        tail = summarize([t * 1000.0 for t in op_s])
        out.append(("query_p90_ms", tail.get("p90"), "ms", len(op_s)))
        out.append(("qps", len(op_s) / sum(op_s) if op_s else None, "queries/s", len(op_s)))
        rec = self.counters.get("ivf_recall", [])
        out.append(("ivf_recall_at_10", sum(rec) / len(rec) if rec else None, "ratio", len(rec)))
        out.append(("ivf_pool_recall_at_10", self.pool_recall, "ratio", self.POOL))
        # share of timed calls whose query an earlier call of the run
        # (warm-up included) already sent: with the same kind, any kind
        seen, seen_any, rep = set(), set(), []
        for op, kind, qi in self.sent:
            if op >= 0:
                rep.append((kind, (kind, qi) in seen, qi in seen_any))
            seen.add((kind, qi))
            seen_any.add(qi)
        for kind in self.KINDS:
            r = [same for k, same, _ in rep if k == kind]
            out.append((f"{kind}_repeat_share", sum(r) / len(r) if r else None, "ratio", len(r)))
        out.append(("repeat_share", sum(x[1] for x in rep) / len(rep) if rep else None,
                    "ratio", len(rep)))
        out.append(("repeat_share_any_kind", sum(x[2] for x in rep) / len(rep) if rep else None,
                    "ratio", len(rep)))
        if hasattr(self, "compact_s"):  # traced runs: the post-run churn cycle
            out.append(("upsert_rows_per_s", self.upsert_rows_per_s, "rows/s", 1))
            out.append(("compact_s", self.compact_s, "s", 1))
        return out

    def finish(self) -> bool:
        """Traced runs only: one churn cycle on the index after the timed
        run, with its checks. It costs about 13 s (first-use start-up of
        the upsert and compaction plans), more than every run's budget
        allows, and it feeds no end-to-end metric."""
        if not self.tr.enabled:
            return False
        from pyspark.sql import functions as F

        from semantic_vector_search_system_spark.datagen import generate_documents
        from semantic_vector_search_system_spark.operators.similarity import ivf_assign_inline
        from semantic_vector_search_system_spark.sources.manifest_index import (
            compact_manifest_index,
            current_gen_dir,
            read_live_manifest_index,
            upsert_manifest_index,
        )

        tr, spark = self.tr, self.spark
        # replacement vectors: the same ids re-generated with another seed
        churn_seed = _seed(self.seed, 4)
        start = int(np.random.default_rng(churn_seed).integers(0, self.DOCS - self.CHURN_ROWS))
        with tr.call("datagen", "generate_documents") as sp:
            redo = generate_documents(
                spark, start + self.CHURN_ROWS, seed=churn_seed, start=start
            ).cache()
            sp.items = redo.count()
        with tr.call("encode", "encode") as sp:
            redo_vec = self.enc.encode(redo).select(
                F.col("id").alias("docid"), "vec", "category"
            ).cache()
            sp.items = redo_vec.count()
        with tr.call("similarity", "ivf_assign_inline"):
            upd = ivf_assign_inline(redo_vec, self.cents, vec_col="vec")
        with tr.call("manifest_index", "upsert_manifest_index") as sp:
            upsert_manifest_index(spark, self.path, upd, id_col="docid", partition_by="cent_id")
            sp.items = self.CHURN_ROWS
        self.upsert_rows_per_s = self.CHURN_ROWS / sp.seconds
        gen_dir = current_gen_dir(self.path)
        self.counters["tombstone_rows"] = spark.read.parquet(gen_dir).count() - self.DOCS
        self.counters["files_in_gen"] = _dir_stats(gen_dir)[0]
        # a query with an upserted row's new vector returns that id once,
        # never its superseded generation
        row = redo_vec.orderBy("docid").first()
        rows = self._ivf("churn-check", [float(x) for x in row["vec"]], live=True)
        hits = [r for r in rows if r["docid"] == row["docid"]]
        if len(hits) != 1 or not checks.close(hits[0]["score"], 1.0, 1e-6):
            self.fail(f"masked query for upserted {row['docid']} returned {len(hits)} rows")
        with tr.call("manifest_index", "compact_manifest_index") as sp:
            compact_manifest_index(spark, self.path, id_col="docid", partition_by="cent_id")
            sp.items = self.DOCS
        self.compact_s = sp.seconds
        self.counters["compact_gen_bytes"] = _dir_stats(current_gen_dir(self.path))[1]
        with tr.call("manifest_index", "read_live_manifest_index") as sp:
            n_live = read_live_manifest_index(spark, self.path).count()
            sp.items = n_live
        if n_live != self.DOCS:
            self.fail(f"live rows after compaction: {n_live} != {self.DOCS}")
        for df in (redo, redo_vec, self.dvec):
            df.unpersist()
        return True


WORKLOADS = {w.name: w for w in (Pipeline, Serve)}
