"""The benchmark's workloads: inputs from a seed, one timed job, output checks.

Each workload is built on a live session and goes through the same steps:

- ``generate()``  once: write the seeded inputs under the run's directory;
- ``prepare(tracer)`` once: work every run reuses (training, exact answers);
- ``load()``      before every run: read and persist the inputs;
- ``run(tracer)`` the timed job; opens the spans named in ``SPANS``;
- ``evaluate(out)`` quality figures of one run, after its clock stopped;
- ``check(out)``  the failed output checks of one run (empty = correct);
- ``layer_metrics(out, spans)`` layer-specific counts and ratios.

A workload calls only the package's public functions.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from entityblockingbysimilarityjoins_spark.functions.tokenize import tokens_dlm
from entityblockingbysimilarityjoins_spark.matcher.features import (
    extract_features,
    generate_features,
)
from entityblockingbysimilarityjoins_spark.matcher.random_forest import (
    RandomForestMatcher,
    apply_matcher,
)
from entityblockingbysimilarityjoins_spark.matcher.rules_extract import extract_blocking_rules
from entityblockingbysimilarityjoins_spark.operators.connected_components import (
    connected_components,
)
from entityblockingbysimilarityjoins_spark.operators.sampler import build_training_sample
from entityblockingbysimilarityjoins_spark.operators.set_join import set_similarity_self_join
from entityblockingbysimilarityjoins_spark.plans.checkpoint import (
    StageCheckpointer,
    partition_lineage,
)
from entityblockingbysimilarityjoins_spark.plans.pipeline import derive_attrs
from entityblockingbysimilarityjoins_spark.sources.pages import generate_pages

from spans import NullTracer

_SUM_MOD = 1 << 64


def row_hash(df: DataFrame) -> tuple[int, int, int]:
    """Order- and partition-independent (rows, xor, sum) hash of a result.

    Folds the per-partition hashes of ``plans.checkpoint.partition_lineage``
    (one job) into one multiset hash.
    """
    rows, xor, total = 0, 0, 0
    for p in partition_lineage(df):
        rows += p["rows"]
        xor ^= p["xor_hash"]
        total = (total + p["sum_hash"]) % _SUM_MOD
    return rows, xor, total


def write_corpus(spark: SparkSession, n_entities: int, seed: int, path: Path) -> None:
    """Write ``generate_pages`` rows with their entity id as parquet."""
    generate_pages(spark, n_entities, seed, with_entity_id=True).write.parquet(str(path))


def read_corpus(spark: SparkSession, path: Path, lo: int, hi: int) -> tuple[DataFrame, DataFrame]:
    """-> (pages, gold(id1, id2)) of the entities lo <= entity_id < hi.

    Gold is the intra-entity pairs ``generate_gold`` defines, joined from the
    written pages instead of generating them a second time.
    """
    pages = spark.read.parquet(str(path)).filter(F.col("entity_id").between(lo, hi - 1))
    a = pages.select("entity_id", F.col("url").alias("id1"))
    b = pages.select("entity_id", F.col("url").alias("id2"))
    gold = a.join(b, "entity_id").filter(F.col("id1") < F.col("id2")).select("id1", "id2")
    return pages.drop("entity_id"), gold


class Workload:
    #: the spans a run opens; a traced run must report each of them
    SPANS: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, seed: int, out: Path) -> None:
        self.spark, self.seed, self.out = spark, seed, out
        self.records = 0
        self.first: dict | None = None

    def generate(self) -> None:
        pass

    def prepare(self, tracer=NullTracer()) -> None:
        pass

    def load(self) -> None:
        pass

    def run(self, tracer) -> dict:
        raise NotImplementedError

    def evaluate(self, out: dict) -> dict:
        return out

    def check(self, out: dict) -> list[str]:
        return []

    def layer_metrics(self, out: dict, spans: dict[str, dict[str, float]]) -> dict[str, float]:
        return {}


class EmChain(Workload):
    """Learned matcher + fixed-rule chain over a big-vocabulary page corpus.

    Set-up trains the matcher on a held-out slice of the corpus (sample ->
    train). Each run then extracts blocking rules from the forest (rules) and
    runs the chain on the rest of the corpus: block: title dlm-Jaccard >= 0.8
    self-join (prefix-filter path) -> match: the forest over 18 similarity
    features -> cluster: connected components of the matches -> checkpoint:
    write the clusters as a pipeline stage and verify the written copy. Each
    step's result is materialized before the next starts. Blocking keeps its
    fixed rule, so a run's work does not depend on the rules the forest
    yields; the extracted rules are checked instead.

    The first run's outputs are checked against gold and the rule; every later
    run must reproduce them row for row.
    """

    SPANS = ("sample", "train", "rules", "block", "match", "cluster", "checkpoint")
    N_ENTITIES = 400
    TRAIN_ENTITIES = 40
    THRESHOLD = 0.8
    ATTR_TYPES = {"title": "str_bt_5w_10w", "body": "str_bt_5w_10w", "lang": "str_eq_1w"}

    def generate(self) -> None:
        write_corpus(self.spark, self.N_ENTITIES + self.TRAIN_ENTITIES, self.seed,
                     self.out / "pages")
        self.features = generate_features(self.ATTR_TYPES)
        self.n_run = 0

    def prepare(self, tracer=NullTracer()) -> None:
        """Train the matcher on entities the runs never see."""
        pages, gold = read_corpus(self.spark, self.out / "pages", self.N_ENTITIES,
                                  self.N_ENTITIES + self.TRAIN_ENTITIES)
        pages = derive_attrs(pages).persist()
        names = [f.name for f in self.features]
        with tracer.span("sample"):
            toks = pages.select("url", tokens_dlm(F.col("title")).alias("tokens"))
            sample = build_training_sample(toks, gold, "url", "tokens",
                                           candidate_threshold=0.5, n_random_negatives=100,
                                           seed=self.seed).persist()
            sample.count()
        with tracer.span("train"):
            train = extract_features(sample.select("id1", "id2"), pages, "url",
                                     self.features).join(sample, ["id1", "id2"]).toPandas()
            self.model = RandomForestMatcher(n_trees=10, max_depth=8, random_state=0,
                                             feature_names=names).fit(
                train[names].to_numpy(), train["label"].to_numpy())
        pages.unpersist()
        sample.unpersist()

    def load(self) -> None:
        pages, gold = read_corpus(self.spark, self.out / "pages", 0, self.N_ENTITIES)
        self.recs = derive_attrs(pages).persist()
        self.gold = gold.persist()
        self.records = self.recs.count()
        self.n_gold = self.gold.count()

    def run(self, tracer) -> dict:
        self.n_run += 1
        with tracer.span("rules"):
            rules, _ = extract_blocking_rules(self.model, self.features)
        with tracer.span("block"):
            toks = self.recs.select("url", tokens_dlm(F.col("title")).alias("tokens"))
            pairs = set_similarity_self_join(toks, "url", "tokens", "jac", self.THRESHOLD) \
                .select("id1", "id2").persist()
            n_pairs = pairs.count()
        with tracer.span("match"):
            feats = extract_features(pairs, self.recs, "url", self.features)
            predicted = apply_matcher(feats, self.model).persist()
            n_match = predicted.filter(F.col("match")).count()
        with tracer.span("cluster"):
            matches = predicted.filter(F.col("match")).select("id1", "id2")
            clusters = connected_components(matches).persist()
            n_comp = clusters.select("component").distinct().count()
        with tracer.span("checkpoint"):
            ckpt = self.out / f"ckpt-{self.n_run}"
            stages = StageCheckpointer(self.spark, str(ckpt), config_fingerprint="em_chain")
            stages.run("clusters", lambda: clusters, inputs=("match",))
            verified = stages.verify("clusters")
        return {"pairs": n_pairs, "matches": n_match, "components": n_comp,
                "rules": repr(rules), "n_rules": len(rules), "verified": verified,
                "_frames": (pairs, predicted, clusters), "_ckpt": ckpt}

    def evaluate(self, out: dict) -> dict:
        shutil.rmtree(out.pop("_ckpt"), ignore_errors=True)
        pairs, predicted, clusters = out.pop("_frames")
        # one row per candidate pair with its match probability
        out["predicted_hash"] = row_hash(predicted)
        if self.first is None:
            self.quality = self._quality(pairs, predicted, out)
        out.update(self.quality)
        for df in (pairs, predicted, clusters):
            df.unpersist()
        return out

    def _quality(self, pairs: DataFrame, predicted: DataFrame, out: dict) -> dict:
        """Quality against gold, and the rule recomputed on the driver."""
        def rows(df: DataFrame) -> set[tuple]:
            return set(df.toPandas().itertuples(index=False, name=None))

        cand = rows(pairs)
        matched = rows(predicted.filter(F.col("match")).select("id1", "id2"))
        gold = rows(self.gold)
        toks = dict(rows(self.recs.select("url", F.array_join(
            tokens_dlm(F.col("title")), "\x1f").alias("t"))))
        toks = {u: set(t.split("\x1f")) for u, t in toks.items()}

        def jac(a: str, b: str) -> float:
            return len(toks[a] & toks[b]) / len(toks[a] | toks[b])

        eps = 1e-9
        return {
            "blocking_recall": len(cand & gold) / len(gold),
            "match_f1": 2 * len(matched & gold) / (len(matched) + len(gold)),
            "cssr": len(cand) / (self.records * (self.records - 1) / 2),
            "gold_hits": len(cand & gold),
            "below": sum(jac(a, b) < self.THRESHOLD - eps for a, b in cand),
            "missed": sum(jac(a, b) >= self.THRESHOLD + eps for a, b in gold - cand),
        }

    def check(self, out: dict) -> list[str]:
        bad = []
        same = {k: out[k] for k in ("pairs", "matches", "components", "predicted_hash",
                                    "rules")}
        if self.first is None:
            self.first = same
        elif same != self.first:
            bad.append(f"outputs {same} differ from the first run's {self.first}")
        if not out["n_rules"]:
            bad.append("the trained forest yielded no blocking rule")
        if out["below"]:
            bad.append(f"{out['below']} candidate pairs have title Jaccard < {self.THRESHOLD}")
        if out["missed"]:
            bad.append(f"{out['missed']} gold pairs with title Jaccard >= {self.THRESHOLD} "
                       "are not candidates")
        if not out["verified"]:
            bad.append("the written cluster checkpoint fails its lineage verification")
        return bad

    def layer_metrics(self, out: dict, spans: dict[str, dict[str, float]]) -> dict[str, float]:
        return {
            "rules.extracted": out["n_rules"],
            "block.pairs": out["pairs"],
            "block.cssr": out["cssr"],
            "block.pair_quality": out["gold_hits"] / out["pairs"],
            "match.pairs_per_s": out["pairs"] / spans["match"]["wall_s"],
            "cluster.components": out["components"],
        }


# -- sweep regime -------------------------------------------------------------

#: the bench corpus' vocabulary: 30 words plus the near-duplicate marker
_WORDS = ("spark window merge table column vector stream value data small join "
          "filter big group hash customer sort order slow line part fast row the "
          "agg key query a scan batch").split()
_VOCAB = {w: i for i, w in enumerate(_WORDS + ["dup"])}
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")


def sweep_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars) shaped like the bench corpus.

    Texts are 10-100 words drawn uniformly from 30 words, so the vocabulary
    stays at 31 tokens and every set join takes the all-pairs sweep. One in
    twenty documents is a near-duplicate of an earlier one: a copy with one
    word replaced and the marker ``dup`` appended.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = _WORDS[rng.integers(0, len(_WORDS))]
            words.append("dup")
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(10, 101))]
        texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[j] for j in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 5}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def sweep_embeddings(n: int, seed: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    """embeddings(vec_id, embedding, label): unit vectors around ``n_labels``
    random centres, shaped like the bench corpus' embeddings table."""
    rng = np.random.default_rng(seed + 1)
    centres = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n)
    v = centres[label] + 0.8 * rng.normal(size=(n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": list(v.astype(np.float32)),
                         "label": label.astype(np.int32)})


_POP16 = np.array([bin(i).count("1") for i in range(1 << 16)], dtype=np.int32)


def _popcount(x: np.ndarray) -> np.ndarray:
    return _POP16[x & 0xFFFF] + _POP16[x >> 16]


def token_masks(texts: pd.Series) -> np.ndarray:
    """32-bit token-set masks: the corpus has 31 tokens."""
    return np.array([sum(1 << _VOCAB[w] for w in set(t.split())) for t in texts],
                    dtype=np.uint32)


def exact_pairs(masks: np.ndarray, keep) -> dict[tuple[int, int], float]:
    """{(i, j): value} for i < j where ``keep(inter, union)`` gives the value
    of the pair, or NaN to drop it; brute force over the masks."""
    out: dict[tuple[int, int], float] = {}
    for i in range(len(masks) - 1):
        rest = masks[i + 1:]
        val = keep(_popcount(rest & masks[i]), _popcount(rest | masks[i]))
        for j in np.nonzero(~np.isnan(val))[0]:
            out[(i, i + 1 + int(j))] = float(val[j])
    return out


class SweepOps(Workload):
    """Bench queries on a 31-token corpus: every set join takes the sweep.

    The queries are ``__spark_entry__.queries()`` entries, run on documents
    and embeddings generated from the seed and written as parquet under the
    run directory.
    """

    N_DOCS = 200
    QUERIES = ("block_union", "minhash_dedup", "overlap_join", "exact_join", "topk_ta",
               "string_sim_bulk", "value_grouping", "ann_topk")
    SPANS = tuple(f"q.{q}" for q in QUERIES)

    def generate(self) -> None:
        self.docs = sweep_documents(self.N_DOCS, self.seed)
        self.emb = sweep_embeddings(self.N_DOCS, self.seed)
        self.data = self.out / "sweep"
        self.data.mkdir(parents=True, exist_ok=True)
        self.docs.to_parquet(self.data / "documents.parquet", index=False)
        self.emb.to_parquet(self.data / "embeddings.parquet", index=False)
        self.records = self.N_DOCS

    def prepare(self, tracer=NullTracer()) -> None:
        """Exact answers, by brute force, for the first run's checks."""
        self.queries = entry.queries()
        masks = token_masks(self.docs["text"])
        jac = exact_pairs(masks, lambda i, u: np.where(i >= 0.85 * u, i / u, np.nan))
        self.exact = {t: {p for p, v in jac.items() if v >= t} for t in (0.85, 0.9)}
        # overlap_join is the c=25 query
        self.overlap = exact_pairs(masks, lambda i, u: np.where(i >= 25, i, np.nan))
        heads = self.docs["text"].str[:16]
        self.same_head = {(int(a), int(b)) for _, g in self.docs.groupby(heads)
                          for a in g["doc_id"] for b in g["doc_id"] if a < b}
        v = np.stack(self.emb["embedding"].to_numpy()).astype(np.float64)
        cos = v @ v.T
        np.fill_diagonal(cos, -np.inf)
        self.top5 = -np.sort(-cos, axis=1)[:, :5]

    def run(self, tracer) -> dict:
        # the first run keeps its results for the exact checks; later runs
        # only hash theirs
        keep = self.first is None
        hashes, frames = {}, {}
        for q in self.QUERIES:
            with tracer.span(f"q.{q}"):
                df = self.queries[q](self.spark, str(self.data))
                frames[q] = df = df.persist() if keep else df
                hashes[q] = row_hash(df)
        return {"hashes": hashes, "_frames": frames if keep else None}

    def evaluate(self, out: dict) -> dict:
        frames = out.pop("_frames")
        if frames is not None:
            self.first = out["hashes"]
            self.quality = self._quality({q: df.toPandas() for q, df in frames.items()})
            for df in frames.values():
                df.unpersist()
        out.update(self.quality)
        return out

    def _quality(self, res: dict[str, pd.DataFrame]) -> dict:
        """The first run's results against the exact answers.

        match_f1: MinHash dedup pairs against exact Jaccard >= 0.9 pairs;
        blocking_recall: block_union pairs against exact pairs of its
        text-Jaccard >= 0.85 rule, all of which the sweep must find. The
        exact join, the overlap join and ANN top-5 must match exactly.
        """
        def pairs(q: str) -> set[tuple[int, int]]:
            return set(zip(res[q]["id1"].astype(int), res[q]["id2"].astype(int)))

        found, exact = pairs("minhash_dedup"), self.exact[0.9]
        f1 = 2 * len(found & exact) / (len(found) + len(exact)) if found or exact else 1.0
        rule = self.exact[0.85]
        recall = len(pairs("block_union") & rule) / len(rule) if rule else 1.0
        ov = res["overlap_join"]
        overlap = dict(zip(zip(ov["id1"].astype(int), ov["id2"].astype(int)),
                           ov["overlap"].astype(float)))
        ann = res["ann_topk"].sort_values(["query_id", "rank"])
        top5 = ann.groupby("query_id")["cos"].apply(list)
        ann_ok = (len(top5) == len(self.top5) and all(
            np.allclose(top5[i], self.top5[i], atol=1e-5) for i in range(len(self.top5))))
        return {"match_f1": f1, "blocking_recall": recall,
                "exact_join_ok": pairs("exact_join") == self.same_head,
                "overlap_join_ok": overlap == self.overlap, "ann_topk_ok": ann_ok}

    def check(self, out: dict) -> list[str]:
        bad = [f"{q}: row hash {h} differs from the first run's {self.first[q]}"
               for q, h in out["hashes"].items() if h != self.first[q]]
        if out["blocking_recall"] < 1.0:
            bad.append(f"block_union misses {1 - out['blocking_recall']:.2%} of its "
                       "jac >= 0.85 rule's exact pairs")
        bad += [f"{k[:-3]} differs from the exact answer"
                for k in ("exact_join_ok", "overlap_join_ok", "ann_topk_ok") if not out[k]]
        return bad


WORKLOADS = {"em_chain": EmChain, "sweep_ops": SweepOps}
