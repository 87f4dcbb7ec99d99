"""Per-run inputs derived from --seed: the same seed gives the same files,
another seed gives different files of the same sizes.

- analytics: order.txt, one seeded query order per pass;
- ingest_cycle: a seeded 90/10 base/delta split of documents and
  embeddings, the delta cut into ten 1% slices (one per ingest cycle);
  ann_queries.parquet (seeded batches of query vectors) and wordcount.txt
  (the documents' text in seeded line order).
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ANALYTICS = ["q01_pricing_summary", "q04_multiway_join", "q15_window_rank",
             "q18_topk", "q34_sessionization", "q_simhash"]
ORDERS = 1000          # pass orders written; passes past this wrap around
SLICES = 10            # delta slices: one for the warm pass, then one per pass
ANN_BATCHES = 5        # search operations per ingest cycle
ANN_BATCH_SIZE = 8     # query vectors per search operation


def _orders(rng, names, out):
    with open(f"{out}/order.txt", "w") as f:
        for _ in range(ORDERS):
            f.write(",".join(names[i] for i in rng.permutation(len(names))) + "\n")


def _split(rng, src, out, prefix):
    """90% base, the rest in SLICES equal slices."""
    t = pq.read_table(src)
    perm = rng.permutation(t.num_rows)
    cut = t.num_rows // 10
    pq.write_table(t.take(np.sort(perm[cut:])), f"{out}/{prefix}_base.parquet")
    for i, part in enumerate(np.array_split(perm[:cut], SLICES)):
        pq.write_table(t.take(np.sort(part)), f"{out}/{prefix}_delta_{i}.parquet")
    return t


def make(workload, seed, data, out):
    rng = np.random.default_rng(seed)
    if workload == "analytics":
        _orders(rng, ANALYTICS, out)
    elif workload == "ingest_cycle":
        _split(rng, f"{data}/documents.parquet", out, "docs")
        emb = _split(rng, f"{data}/embeddings.parquet", out, "emb")
        ids = rng.choice(emb.num_rows, ANN_BATCHES * ANN_BATCH_SIZE, replace=False)
        q = emb.take(ids)
        pq.write_table(pa.table({
            "batch": pa.array(np.repeat(np.arange(ANN_BATCHES), ANN_BATCH_SIZE), pa.int32()),
            "qid": q["vec_id"], "qemb": q["embedding"]}), f"{out}/ann_queries.parquet")
        text = pq.read_table(f"{data}/documents.parquet", columns=["text"])["text"]
        lines = text.to_pylist()
        with open(f"{out}/wordcount.txt", "w") as f:
            for i in rng.permutation(len(lines)):
                f.write(lines[i] + "\n")
    else:
        raise ValueError(workload)
