"""corpus_curation: the operators do most of the work, the lakehouse little.

Generated documents, with planted exact and near duplicates, go through
``operators.dedup`` (exact and MinHash-LSH), ``operators.text`` (quality
score); the survivors are committed to one lakehouse table. Embedding
queries then run through ``operators.similarity`` (IVF and brute-force
top-k). A round is one curation pass into a fresh table plus one query,
taking the query vectors in turn. The operators always query vector
``vec_id = 0``, so each query gets its own embeddings file: the same
corpus with that query as id 0.

A round takes about 6 s on 4 vCPUs, so at ``--seconds 8`` every run
has two rounds unless a round takes a quarter longer or a third less;
a round near ``--seconds`` would give some runs one round and others
two, and the second round, warmer, would split the runs into two groups.
"""

from __future__ import annotations

import shutil
import time

import numpy as np

from . import checks, gen
from .harness import Written, sample_table, tree_bytes

N_BASE, N_EXACT, N_NEAR = 3_000, 60, 200
NEAR_LO, NEAR_HI = 0.7, 0.9  # planted near-duplicate shingle Jaccard
N_VECS, DIM, CELLS, SPREAD = 5_000, 32, 12, 1.3
QUERIES = 2
TOP_K = 10  # operators.similarity.TOP_K
MIN_QUALITY_BP = 5_000
WARMUP_PASSES = 1


def run(r) -> None:
    spark = r.start_session()
    from apache_iceberg_exploration_spark.operators import dedup, similarity, text
    from apache_iceberg_exploration_spark.schemas import DOCUMENTS
    from apache_iceberg_exploration_spark.sources.lakehouse import LakehouseTable

    tr = r.tracer
    c = gen.corpus(r.seed, N_BASE, N_EXACT, N_NEAR, NEAR_LO, NEAR_HI)
    docs = c["docs"]
    docs_dir = r.path("inputs", "corpus")
    in_bytes = gen.write_documents(docs, docs_dir)
    exact_ids = checks.exact_survivors(docs)
    text_of = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
    vecs, labels = gen.embeddings(r.seed, N_VECS, DIM, CELLS, SPREAD)
    ids = np.arange(1, N_VECS + 1)
    qdirs, exact_topk = [], []
    for j, (qv, ql) in enumerate(gen.queries(r.seed, QUERIES, vecs, labels, SPREAD)):
        d = r.path("inputs", f"q{j}")
        gen.write_embeddings(np.concatenate([[0], ids]),
                             np.vstack([qv, vecs]),
                             np.concatenate([[ql], labels]), d)
        qdirs.append(d)
        exact_topk.append(checks.topk(ids, checks.cosine_scores(vecs, qv), TOP_K))

    def curate(tag: str) -> str:
        """One pass: dedup, score, commit survivors; returns the table."""
        root = r.path("warehouse", tag)
        written = Written(root)
        t0 = time.perf_counter()
        with r.op("other", "bench.op.exact"):
            with tr.span("operators.dedup.exact"):
                exact = dedup.dedup_exact_documents(spark, docs_dir).toPandas()
        with r.op("other", "bench.op.minhash_lsh"):
            with tr.span("operators.dedup.minhash_lsh"):
                pairs = dedup.dedup_minhash_lsh_pairs(spark, docs_dir).toPandas()
        with r.op("other", "bench.op.quality"):
            with tr.span("operators.text.quality_score"):
                quality = text.text_quality_score(spark, docs_dir).toPandas()
        cands = set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
        good = set(quality.loc[quality["quality_score_bp"] >= MIN_QUALITY_BP,
                               "doc_id"].tolist())
        drop = {b for _, b in cands}
        keep = exact[exact["doc_id"].isin(good - drop)]
        table = LakehouseTable(spark, root)
        with r.op("other", "bench.op.commit"):
            table.overwrite(spark.createDataFrame(keep, DOCUMENTS))
        if r.timed:
            r.writes.append(time.perf_counter() - t0)
        back = table.read().select("doc_id").toPandas()["doc_id"]
        r.check(checks.check_ids, "exact-dedup survivors", exact["doc_id"], exact_ids)
        r.check(checks.check_pairs_found, "exact duplicates", cands, c["exact_pairs"])
        r.check(checks.check_near_recall, cands, c["near_pairs"],
                c["near_jaccard"], op_result=True)
        r.check(checks.check_quality, quality, docs)
        r.check(checks.check_ids, "committed survivors read back",
                back, keep["doc_id"])
        if tr.enabled:
            tr.sample("operators.dedup.candidate_pairs", len(cands))
            tr.sample("operators.dedup.candidate_precision",
                      checks.candidate_precision(cands, text_of, NEAR_LO))
            tr.sample("operators.dedup.near_recall",
                      checks.near_recall(cands, c["near_pairs"]))
            tr.sample("sources.lakehouse.metadata_bytes",
                      tree_bytes(root, only="snapshots"))
            tr.sample("sources.lakehouse.write_amplification",
                      written.new_bytes() / in_bytes)
            sample_table(tr, table)
        return root

    def search(j: int) -> None:
        """One query: IVF top-k and the exact brute-force top-k."""
        with r.op("read", "bench.read.query"):
            with tr.span("operators.similarity.ann_ivf"):
                ivf = similarity.ann_ivf_probe_topk(spark, qdirs[j]).toPandas()
            with tr.span("operators.similarity.ann_bruteforce"):
                bf = similarity.ann_cosine_topk_bruteforce(spark, qdirs[j]).toPandas()
        r.check(checks.check_topk, bf["vec_id"], exact_topk[j])
        if tr.enabled:
            tr.sample("operators.similarity.ivf_recall",
                      checks.recall(ivf["vec_id"], exact_topk[j]))

    # warm-up: one pass and one query take the first compilation of
    # every operator's plan (the cold pass is several times slower)
    for w in range(WARMUP_PASSES):
        shutil.rmtree(curate(f"warmup{w}"))
    search(0)
    last = []

    def timed_round(i: int) -> int:
        if last:
            shutil.rmtree(last.pop())
        last.append(curate(f"round{i}"))
        search(i % QUERIES)
        return len(docs)

    r.timed_rounds(timed_round)
    r.finish(tree_bytes(last[0]))
