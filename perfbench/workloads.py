"""Seeded inputs, the plan call and the expected output of each workload.

A workload turns ``--seed`` into parquet tables, computes what the plan
must produce from them without running the plan, and runs the plan over
the tables. The program sees only the generated tables.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus_oracle


# subject-hash buckets per stage table, as the engine's tests use locally
N_BUCKETS = 4
# the fixture tables kb_build.run reads, by KBInputs field name
KB_INPUTS = (
    "documents", "terms", "synonyms", "subclass_edges", "equiv_edges", "restrictions",
    "gene_annotations", "homology", "taxonomy_edges", "state_phenotypes",
)


class KBWorkload:
    """``fixtures.generate_corpus`` -> ``plans.kb_build.run`` -> triples.

    Expected output: ``oracle.pipeline_oracle.expected_triples`` over the
    generated corpus, a sequential Python restatement of the build.
    """

    def __init__(self, n_docs: int):
        self.n_docs = n_docs

    def generate(self, seed: int, in_dir: Path):
        """Write the seed's input tables as parquet. Returns (name -> path,
        the generated corpus for ``expected``)."""
        from phenoscape_owl_tools_spark.fixtures import generate_corpus, write_corpus

        corpus = generate_corpus(seed=seed, n_docs=self.n_docs)
        return write_corpus(corpus, in_dir), corpus

    @staticmethod
    def expected(corpus) -> set:
        """The (subj, pred, obj) triples the build must emit."""
        from phenoscape_owl_tools_spark.oracle import pipeline_oracle

        return pipeline_oracle.expected_triples(corpus)

    @staticmethod
    def input_rows(corpus) -> int:
        """``rows_per_s`` counts the rows of every table the build reads."""
        return sum(corpus.to_arrow(name).num_rows for name in KB_INPUTS)

    def run(self, spark, paths: dict[str, str], out_dir: Path):
        """One ``kb_build.run`` call; returns (final frame, stage manifests)."""
        from phenoscape_owl_tools_spark.plans import kb_build

        inputs = kb_build.KBInputs(**{n: spark.read.parquet(paths[n]) for n in KB_INPUTS})
        res = kb_build.run(spark, inputs, out_dir=out_dir, n_buckets=N_BUCKETS)
        return res.triples, res.manifests

    @staticmethod
    def output_keys(df) -> set:
        return {(r["subj"], r["pred"], r["obj"]) for r in df.collect()}


# --- corpus ---------------------------------------------------------------

# verbatim copies of the engine's sf0.1 testdata: 5000 documents, embeddings
# for doc ids 0-1999
DATA_DIR = Path(__file__).resolve().parent / "data"
N_SOURCE = 1000  # sf0.1 documents drawn by the seed
N_NEAR_DUPS = 50  # injected near-duplicate rows, 5% of the drawn documents
N_BENCH = 10  # documents that give a decontamination-benchmark window
BENCH_WORDS = 12
EMBED_NOISE = 0.15


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """``N_SOURCE`` sf0.1 documents, their embeddings, and rows added, all
    chosen by ``seed``.

    The seed draws ``N_SOURCE`` of the 5000 documents, about 40% of them
    with an embedding. It then picks ``N_NEAR_DUPS`` of them; each gets a
    near copy (one word in 25 replaced by another word of the corpus) under
    a new doc id, and, if the source has an embedding, a near copy of it.
    The seed also picks the ``N_BENCH`` documents whose ``BENCH_WORDS``-word
    windows make the decontamination benchmark.
    """
    rng = random.Random(seed)
    docs = pq.read_table(DATA_DIR / "documents.parquet")
    docs = docs.take(sorted(rng.sample(range(docs.num_rows), N_SOURCE)))
    emb = pq.read_table(DATA_DIR / "embeddings.parquet").select(["vec_id", "embedding"])
    emb = emb.filter(pc.is_in(emb["vec_id"], docs["doc_id"]))
    d = docs.to_pydict()
    vecs = dict(zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist()))
    vocab = sorted({w for t in d["text"] for w in t.split(" ")})

    new_docs = {k: [] for k in d}
    new_vecs = {"vec_id": [], "embedding": []}
    for k, src in enumerate(rng.sample(range(N_SOURCE), N_NEAR_DUPS)):
        words = d["text"][src].split(" ")
        for _ in range(max(1, len(words) // 25)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        text = " ".join(words)
        doc_id = 5000 + k
        new_docs["doc_id"].append(doc_id)
        new_docs["text"].append(text)
        new_docs["lang"].append(d["lang"][src])
        new_docs["source"].append(d["source"][src])
        new_docs["n_chars"].append(len(text))
        if d["doc_id"][src] in vecs:
            new_vecs["vec_id"].append(doc_id)
            new_vecs["embedding"].append(
                [x + rng.gauss(0.0, EMBED_NOISE) for x in vecs[d["doc_id"][src]]])

    documents = pa.concat_tables([docs, pa.table(new_docs, schema=docs.schema)])
    embeddings = pa.concat_tables([emb, pa.table(new_vecs, schema=emb.schema)])
    texts = documents["text"].to_pylist()
    bench_texts = []
    for src in rng.sample(range(documents.num_rows), N_BENCH):
        words = texts[src].split(" ")
        start = rng.randrange(max(1, len(words) - BENCH_WORDS))
        bench_texts.append(" ".join(words[start:start + BENCH_WORDS]))
    benchmark = pa.table({
        "doc_id": pa.array(range(10**9, 10**9 + N_BENCH), pa.int64()),
        "text": pa.array(bench_texts, pa.string()),
    })
    return {"documents": documents, "embeddings": embeddings, "benchmark": benchmark}


class CorpusWorkload:
    """sf0.1 documents with seeded near-duplicates -> ``plans.corpus_build.run``
    with every optional stage on (benchmark, embeddings, ``budget_tokens``,
    ``seq_len``) -> kept documents.

    Expected output: ``corpus_oracle.expected_kept_ids``, a sequential
    Python restatement of each operator's rule over the input tables.
    """

    n_docs = N_SOURCE + N_NEAR_DUPS

    def config(self):
        from phenoscape_owl_tools_spark.plans.corpus_build import CorpusConfig

        # below every language group's token total, so the cut bites
        return CorpusConfig(budget_tokens=self.n_docs * 5, seq_len=512, n_buckets=N_BUCKETS)

    def generate(self, seed: int, in_dir: Path):
        """Write the seed's input tables as parquet. Returns (name -> path,
        the tables for ``expected``)."""
        in_dir.mkdir(parents=True, exist_ok=True)
        tables = corpus_tables(seed)
        paths = {}
        for name, table in tables.items():
            paths[name] = str(in_dir / f"{name}.parquet")
            pq.write_table(table, paths[name])
        return paths, tables

    def expected(self, tables) -> set:
        """The doc ids (as strings) the build must keep."""
        return corpus_oracle.expected_kept_ids(tables, self.config())

    @staticmethod
    def input_rows(tables) -> int:
        """``rows_per_s`` counts the input documents."""
        return tables["documents"].num_rows

    def run(self, spark, paths: dict[str, str], out_dir: Path):
        """One ``corpus_build.run`` call; returns (final frame, stage manifests)."""
        from phenoscape_owl_tools_spark.plans import corpus_build

        res = corpus_build.run(
            spark,
            spark.read.parquet(paths["documents"]),
            benchmark=spark.read.parquet(paths["benchmark"]),
            embeddings=spark.read.parquet(paths["embeddings"]),
            out_dir=out_dir,
            config=self.config(),
        )
        return res.corpus, res.manifests

    @staticmethod
    def output_keys(df) -> set:
        return {r["doc_id"] for r in df.select("doc_id").collect()}


WORKLOADS = {
    "kb_small": KBWorkload(n_docs=150),
    "corpus": CorpusWorkload(),
}
