"""``curation`` workload: one LLM-data operator call per request.

Ten calls over a generated corpus: exact dedup, MinHash-LSH and SimHash
pairs (xxhash64 production mode), language ID, quality scoring, token
chunking, token-budget sampling, BPE encoding and a similarity top-k (both
through ``mapInPandas``), and the q61 curation composition. Every request
draws fresh parameters from the run's seed, so no request repeats.

Checks: a DuckDB twin where the output is reproducible in SQL (exact
dedup, language ID, quality, chunking, token budget, q61), a NumPy twin for
the top-k, and row/pair invariants for the hash-based pair operators and
BPE.
"""

from __future__ import annotations

import json
import random
import re
import time
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from aggo_spark.operators import dedup, sampling, similarity, text, tokenize

import check
import inputs

NORM = ("trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9 ]', ' ', 'g'), "
        "' +', ' ', 'g'))")
TOK = "list_filter(string_split(" + NORM + ", ' '), x -> x <> '')"


def _sql_in(words) -> str:
    return "(" + ",".join("'" + w.replace("'", "''") + "'" for w in words) + ")"


def _doc_scores_sql(where: str) -> str:
    """Per-document token statistics, language scores, language argmax and
    quality score of the documents matching ``where``, computed over the
    unnested tokens (the same occurrence semantics as the operators: a
    token counts once for every language whose stopword list holds it;
    earlier languages win ties; 'und' without evidence)."""
    langs = list(text.LANG_STOPWORDS)
    counts = ", ".join(
        f"count(*) FILTER (WHERE w IN {_sql_in(text.LANG_STOPWORDS[l])}) AS s_{l}"
        for l in langs)
    scores = ", ".join(f"coalesce(c.s_{l}, 0) AS s_{l}" for l in langs)
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    argmax = "CASE " + " ".join(f"WHEN s_{l} = g THEN '{l}'" for l in langs) + " END"
    return f"""
    WITH t AS (SELECT doc_id, source, text, {TOK.format(c='text')} AS tok
               FROM documents WHERE {where}),
    c AS (SELECT doc_id, sum(length(w)) AS total_len, {counts}
          FROM (SELECT doc_id, unnest(tok) AS w FROM t) GROUP BY doc_id),
    d AS (SELECT t.doc_id, t.source, t.text, len(t.tok) AS n_tok,
                 length(t.text) AS n_chars,
                 length(regexp_replace(t.text, '[^A-Za-z]', '', 'g')) AS alpha_chars,
                 coalesce(c.total_len, 0) AS total_len, {scores}
          FROM t LEFT JOIN c USING (doc_id)),
    g AS (SELECT *, {greatest} AS g FROM d),
    r AS (
      SELECT *, CASE WHEN g > 0 THEN {argmax} ELSE 'und' END AS pred_lang,
             CASE WHEN n_chars > 0 THEN CAST(alpha_chars AS DOUBLE) / n_chars ELSE 0.0 END AS ar,
             CASE WHEN n_tok > 0 THEN CAST(s_en AS DOUBLE) / n_tok ELSE 0.0 END AS sr,
             CASE WHEN n_tok > 0 THEN CAST(total_len AS DOUBLE) / n_tok ELSE 0.0 END AS ml
      FROM g)
    SELECT *, round(0.3 * ar + 0.3 * least(sr * 3.0, 1.0)
                    + 0.2 * (CASE WHEN ml >= 2.0 AND ml <= 12.0 THEN 1.0 ELSE 0.0 END)
                    + 0.2 * (CASE WHEN n_tok >= 10 THEN 1.0 ELSE CAST(n_tok AS DOUBLE) / 10.0 END),
                    6) AS q
    FROM r"""


def _py_tokens(s: str | None) -> list[str]:
    if s is None:
        return []
    s = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", s.lower())).strip()
    return [w for w in s.split(" ") if w]


class Corpus:
    """The curation inputs as the program sees them, plus their twins."""

    def __init__(self, docs, emb, con, merges: list, n_docs: int, n_vecs: int):
        self.docs, self.emb, self.con = docs, emb, con
        self.merges, self.n_docs, self.n_vecs = merges, n_docs, n_vecs
        self._vectors = None

    def vectors(self) -> tuple[np.ndarray, np.ndarray]:
        """(sorted vector ids, float64 matrix) read by DuckDB."""
        if self._vectors is None:
            rows = self.con.execute(
                "SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
            self._vectors = (np.array([r[0] for r in rows]),
                             np.array([r[1] for r in rows], dtype=np.float64))
        return self._vectors

    def docs_f(self, p: dict):
        return self.docs.filter(F.col("n_chars") >= p["min_chars"])

    def exact_dup_pairs(self, min_chars: int) -> set:
        """Pairs of documents with identical normalized text: every
        near-duplicate operator must report them."""
        rows = self.con.execute(f"""
            WITH d AS (SELECT doc_id, md5({NORM.format(c='text')}) AS h FROM documents
                       WHERE n_chars >= {min_chars})
            SELECT a.doc_id, b.doc_id FROM d a JOIN d b ON a.h = b.h AND a.doc_id < b.doc_id
        """).fetchall()
        return set(rows)


class Op:
    """One operator call: ``draw`` makes parameters, ``build`` the lazy
    DataFrame, ``check`` returns None or a failure reason."""

    name = ""
    items_are_vectors = False  # items counted: corpus vectors, not documents

    def draw(self, rng: random.Random, c: Corpus) -> dict:
        return {"min_chars": rng.randint(0, 40)}

    def build(self, c: Corpus, p: dict):
        raise NotImplementedError

    def twin_sql(self, p: dict) -> str | None:
        return None

    def check(self, c: Corpus, p: dict, df) -> str | None:
        return check.compare(check.spark_digest(df), check.duck_digest(c.con, self.twin_sql(p)))


class ExactDedup(Op):
    name = "exact_dedup"

    def build(self, c, p):
        return dedup.exact_dedup(c.docs_f(p))

    def twin_sql(self, p):
        return f"""SELECT min(doc_id) AS doc_id, md5({NORM.format(c='text')}) AS content_hash,
                          count(*) AS n_copies
                   FROM documents WHERE n_chars >= {p['min_chars']} GROUP BY 2"""


def _pair_check(rows, exact: set, ok_value) -> str | None:
    seen = set()
    for a, b, v in rows:
        if not a < b:
            return f"pair ({a}, {b}) not ordered"
        if (a, b) in seen:
            return f"pair ({a}, {b}) repeated"
        if not ok_value(v):
            return f"pair ({a}, {b}) value {v} out of range"
        seen.add((a, b))
    missing = exact - seen
    if missing:
        return f"{len(missing)} exact-duplicate pairs missing, e.g. {min(missing)}"
    return None


class MinHash(Op):
    name = "minhash_lsh_pairs"

    def draw(self, rng, c):
        return {**super().draw(rng, c), "threshold": rng.choice([0.5, 0.6, 0.7, 0.8])}

    def build(self, c, p):
        return dedup.minhash_lsh_pairs(c.docs_f(p), num_perm=64, bands=16, k=3,
                                       unit="word", threshold=p["threshold"],
                                       hash_fn="xxhash64")

    def check(self, c, p, df):
        rows = df.select("id_a", "id_b", "est_jaccard").collect()
        return _pair_check(rows, c.exact_dup_pairs(p["min_chars"]),
                           lambda v: p["threshold"] <= v <= 1.0)


class SimHash(Op):
    name = "simhash_pairs"

    def draw(self, rng, c):
        return {**super().draw(rng, c), "max_hamming": rng.choice([2, 3])}

    def build(self, c, p):
        return dedup.simhash_pairs(c.docs_f(p), max_hamming=p["max_hamming"],
                                   hash_fn="xxhash64")

    def check(self, c, p, df):
        rows = df.select("id_a", "id_b", "hamming").collect()
        return _pair_check(rows, c.exact_dup_pairs(p["min_chars"]),
                           lambda v: 0 <= v <= p["max_hamming"])


class LangId(Op):
    name = "language_id_table"

    def build(self, c, p):
        return text.language_id_table(c.docs_f(p), "text")

    def twin_sql(self, p):
        where = f"n_chars >= {p['min_chars']}"
        return f"SELECT doc_id, pred_lang FROM ({_doc_scores_sql(where)})"


class Quality(Op):
    name = "quality_score"

    def build(self, c, p):
        cols = text.quality_score(F.col("text"))
        return c.docs_f(p).select("doc_id", *[v.alias(k) for k, v in cols.items()])

    def twin_sql(self, p):
        return f"""
            SELECT doc_id, n_tok AS n_tokens, round(ar, 6) AS alpha_ratio,
                   round(sr, 6) AS stopword_ratio, round(ml, 6) AS mean_token_len,
                   q AS quality
            FROM ({_doc_scores_sql(f"n_chars >= {p['min_chars']}")})"""


class Chunk(Op):
    name = "chunk_tokens"

    def draw(self, rng, c):
        size = rng.randint(16, 64)
        return {**super().draw(rng, c), "size": size, "stride": max(1, size * 3 // 4)}

    def build(self, c, p):
        return text.chunk_tokens(c.docs_f(p), size=p["size"], stride=p["stride"])

    def twin_sql(self, p):
        size, stride = p["size"], p["stride"]
        return f"""
            WITH t AS (SELECT doc_id, {TOK.format(c='text')} AS tok FROM documents
                       WHERE n_chars >= {p['min_chars']}),
            n AS (SELECT doc_id, tok, len(tok) AS n FROM t WHERE len(tok) > 0),
            c AS (SELECT doc_id, tok, n, unnest(range(CASE WHEN n <= {size} THEN 1
                         ELSE 1 + CAST(ceil((n - {size}) / {float(stride)}) AS BIGINT) END))
                         AS chunk_id FROM n)
            SELECT doc_id, chunk_id, least({size}, n - chunk_id * {stride}) AS n_chunk_tokens,
                   array_to_string(list_slice(tok, chunk_id * {stride} + 1,
                                              chunk_id * {stride} + {size}), ' ') AS chunk_text
            FROM c"""


class TokenBudget(Op):
    name = "token_budget_sample"

    def draw(self, rng, c):
        return {**super().draw(rng, c), "budget": rng.randint(20, 150) * 1000}

    def build(self, c, p):
        return sampling.token_budget_sample(
            c.docs_f(p), ["source"], p["budget"], "n_chars",
            order_col=sampling.hash_order(F.col("doc_id").cast("string")))

    def twin_sql(self, p):
        return f"""
            SELECT *, cum_tokens <= {p['budget']} AS kept FROM (
              SELECT *, sum(n_chars) OVER (PARTITION BY source
                         ORDER BY md5(CAST(doc_id AS VARCHAR))
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
              FROM documents WHERE n_chars >= {p['min_chars']})"""


class Bpe(Op):
    name = "bpe_encode"

    def build(self, c, p):
        return tokenize.bpe_encode(c.docs_f(p), c.merges)

    def check(self, c, p, df):
        rows = df.select("text", "bpe_tokens").collect()
        want = c.con.execute(
            f"SELECT count(*) FROM documents WHERE n_chars >= {p['min_chars']}").fetchone()[0]
        if len(rows) != want:
            return f"rows {len(rows)} != {want}"
        for txt, toks in rows:
            words = "".join(w + "</w>" for w in _py_tokens(txt))
            if "".join(toks or []) != words:
                return f"tokens do not concatenate back to the words of {txt[:40]!r}"
        return None


class TopK(Op):
    name = "similarity_topk"
    items_are_vectors = True

    def draw(self, rng, c):
        ids, _ = c.vectors()
        return {"qids": sorted(rng.sample(ids.tolist(), 12)), "k": rng.randint(5, 15)}

    def build(self, c, p):
        queries = c.emb.filter(F.col("vec_id").isin(p["qids"]))
        return similarity.brute_force_topk(c.emb, queries, k=p["k"], method="arrow")

    def check(self, c, p, df):
        ids, vecs = c.vectors()
        norms = np.sqrt((vecs ** 2).sum(1))
        rows = []
        for q in p["qids"]:
            qi = int(np.searchsorted(ids, q))
            cos = np.round(vecs @ vecs[qi] / np.maximum(norms * norms[qi], 1e-30), 6)
            order = sorted((i for i in range(len(ids)) if ids[i] != q),
                           key=lambda i: (-cos[i], ids[i]))[:p["k"]]
            rows += [(q, int(ids[i]), float(cos[i]), r + 1) for r, i in enumerate(order)]
        import pyarrow as pa

        want = check.arrow_digest(pa.table(
            dict(zip(["query_id", "neighbor_id", "score", "rank"], zip(*rows))) if rows else
            {n: pa.array([], pa.int64()) for n in ["query_id", "neighbor_id", "score", "rank"]}))
        got = check.spark_digest(df.select("query_id", "neighbor_id", "score", "rank"))
        return check.compare(got, want)


class Q61(Op):
    name = "q61_curation"

    def draw(self, rng, c):
        return {**super().draw(rng, c), "q_min": rng.choice([0.45, 0.5, 0.55, 0.6])}

    def build(self, c, p):
        """Quality filter, language filter, exact dedup keeping the min-id
        representative, per-source token totals -- the composition of the
        project's q61 query, with a seeded quality threshold."""
        from pyspark.sql import Window as W

        docs = c.docs_f(p)
        base = docs.select(
            "doc_id", "source", "text",
            text.tokens(F.col("text")).alias("__tok"),
            F.length(text.normalize_text(F.col("text"))).alias("__nch"),
            text.fingerprint(F.col("text")).alias("fp"),
        )
        scored = base.select(
            "doc_id", "source",
            text.quality_score(F.col("text"), tok=F.col("__tok"),
                               norm_chars=F.col("__nch"))["quality"].alias("q"),
            F.size("__tok").alias("n_tok"), "fp",
        )
        lang = text.language_id_table(docs, "text")
        kept = (scored.join(lang, "doc_id")
                .filter((F.col("q") >= p["q_min"]) & (F.col("pred_lang") == "en")))
        final = (kept.withColumn(
            "__rn", F.row_number().over(W.partitionBy("fp").orderBy("doc_id")))
            .filter(F.col("__rn") == 1))
        return final.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"))

    def twin_sql(self, p):
        return f"""
            WITH kept AS (
              SELECT doc_id, source, n_tok, md5({NORM.format(c='text')}) AS fp
              FROM ({_doc_scores_sql(f"n_chars >= {p['min_chars']}")})
              WHERE q >= {p['q_min']} AND pred_lang = 'en'),
            reps AS (SELECT fp, min(doc_id) AS doc_id FROM kept GROUP BY fp)
            SELECT source, count(*) AS n_docs, sum(n_tok) AS total_tokens
            FROM kept JOIN reps USING (fp, doc_id) GROUP BY source"""


OPS = [ExactDedup(), MinHash(), SimHash(), LangId(), Quality(), Chunk(),
       TokenBudget(), Bpe(), TopK(), Q61()]


CORPUS_K = 0.5  # corpus size in multiples of sf0.1 (2500 documents, 1000 vectors)


class Workload(inputs.BatchWorkload):
    """Each round calls every operator once, each call on fresh parameters."""

    name = "curation"
    python_workers = True  # whether requests run Python UDFs
    nominal_round_s = 20.0

    def __init__(self, root: Path, cache: Path, seed: int, scale: str):
        super().__init__(seed)
        k = CORPUS_K if scale == "full" else 0.02
        self.dir = inputs.curation_corpus(root, cache, k, seed)
        self.items_unit = f"input documents or vectors ({k:g} x sf0.1)"
        self.corpus = None

    def setup(self, spark) -> float:
        import aggo_spark
        import duckdb

        t0 = time.perf_counter()
        t = aggo_spark.load_tables(spark, str(self.dir), names=["documents", "embeddings"])
        load_s = time.perf_counter() - t0
        con = duckdb.connect()
        for name in t:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{self.dir / name}.parquet')")
        n_docs = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        n_vecs = con.execute("SELECT count(*) FROM embeddings").fetchone()[0]
        merges = [tuple(m) for m in json.loads((self.dir / "merges.json").read_text())]
        self.corpus = Corpus(t["documents"], t["embeddings"], con, merges, n_docs, n_vecs)
        return load_s

    def teardown(self) -> None:
        if self.corpus is not None:
            self.corpus.con.close()
            self.corpus = None

    def rounds(self, n: int):
        c = self.corpus
        for _ in range(n):
            batch = []
            for op in OPS:
                p = op.draw(self.rng, c)
                batch.append(inputs.Request(
                    "batch", op.name, c.n_vecs if op.items_are_vectors else c.n_docs,
                    build=lambda op=op, p=p: op.build(c, p),
                    check=lambda op=op, p=p: op.check(c, p, op.build(c, p))))
            yield batch
