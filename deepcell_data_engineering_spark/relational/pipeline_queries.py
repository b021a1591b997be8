"""Oracle-checked pipeline-extension queries (dedup / text analysis /
similarity search) over the ``documents`` and ``embeddings`` tables.

These are the LLM-training-data-pipeline operators (BASELINE.json north
star) exposed through the same registry as the D-series: every entry has
a DuckDB-dual formulation, made possible by md5-based hashing (identical
in both engines) instead of engine-local hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from deepcell_data_engineering_spark.catalog import load_table
from deepcell_data_engineering_spark.functions import dedup as dd
from deepcell_data_engineering_spark.functions import similarity as sim
from deepcell_data_engineering_spark.functions import text as tx
from deepcell_data_engineering_spark.relational.queries import _q
from deepcell_data_engineering_spark.session import local_frame


@_q(
    "x01_token_stats",
    """SELECT doc_id,
              len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
              length(text) AS n_chars
       FROM documents ORDER BY doc_id""",
    doc="Whitespace token counting (text-analysis family).",
)
def x01(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


@_q(
    "x02_quality_features",
    """SELECT doc_id,
              length(text) AS q_n_chars,
              len(regexp_split_to_array(trim(text), '\\s+')) AS q_n_tokens,
              ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                    / length(text), 4) AS q_alpha_ratio,
              length(regexp_replace(text, '[^!?.,;:]', '', 'g')) AS q_n_punct,
              ROUND(length(text)
                    / len(regexp_split_to_array(trim(text), '\\s+')), 4) AS q_avg_token_len
       FROM documents ORDER BY doc_id""",
    doc="Heuristic quality scoring: length/punct/alpha/token features.",
)
def x02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.quality_features(docs)
        .select(
            "doc_id", "q_n_chars", "q_n_tokens", "q_alpha_ratio",
            "q_n_punct", "q_avg_token_len",
        )
        .orderBy("doc_id")
    )


def _lang_oracle() -> str:
    score_sql = {}
    for lang, markers in tx.LANG_MARKERS.items():
        parts = [
            f"CAST((length(p.t) - length(replace(p.t, '{m}', ''))) / {len(m)} AS INT)"
            for m in markers
        ]
        score_sql[lang] = " + ".join(parts)
    langs = list(tx.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s.score_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s.score_{l} = {best} AND {best} > 0 THEN '{l}'" for l in langs
    ) + " ELSE 'unknown' END"
    scores = ", ".join(f"{expr} AS score_{l}" for l, expr in score_sql.items())
    return f"""
        WITH p AS (SELECT doc_id, lang, ' ' || lower(text) || ' ' AS t FROM documents),
             s AS (SELECT doc_id, lang, {scores} FROM p)
        SELECT s.lang, {case} AS predicted, COUNT(*) AS n
        FROM s GROUP BY s.lang, predicted ORDER BY s.lang, predicted"""


@_q(
    "x03_lang_id",
    _lang_oracle(),
    doc="Stopword-marker language ID heuristic; confusion counts per true lang.",
)
def x03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.predict_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "predicted")
    )


@_q(
    "x04_exact_dedup",
    """SELECT md5(lower(trim(text))) AS fp, MIN(doc_id) AS keep_id,
              COUNT(*) AS n_copies
       FROM documents GROUP BY fp ORDER BY keep_id""",
    doc="Exact dedup groups: canonical-text fingerprint -> keeper + count.",
)
def x04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.exact_dup_groups(docs).orderBy("keep_id")


def _minhash_oracle_terms(num_hashes: int) -> str:
    """DuckDB SQL for the j 2-universal hash minima — generated from the
    same minhash_params() coefficients the Spark side uses, so the two
    dialects cannot drift. All intermediates < 2^60: BIGINT-safe in both
    engines; operands positive, so DuckDB's % == Spark's pmod."""
    terms = []
    for j in range(num_hashes):
        a, b, c = dd.minhash_params(j)
        terms.append(
            f"min(({a} * x1 + {b} * x2 + {c}) % {dd.MINHASH_P}) AS h{j}"
        )
    return ",\n              ".join(terms)


_MINHASH_CHUNKS = """WITH sh AS (
         SELECT doc_id, substr(text, i, 5) AS shingle
         FROM documents,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i)
       ),
       chunks AS (
         SELECT doc_id,
                ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS x1,
                ('0x' || substr(md5(shingle), 9, 7))::BIGINT AS x2
         FROM sh
       )"""


@_q(
    "x05_minhash_signatures",
    f"""{_MINHASH_CHUNKS}
       SELECT doc_id,
              {_minhash_oracle_terms(4)}
       FROM chunks GROUP BY doc_id ORDER BY doc_id""",
    doc="MinHash signatures (4 hash functions over char 5-gram shingles): "
    "one md5 per shingle, then 2-universal integer hashes of two 28-bit "
    "digest chunks — bit-identical in both engines.",
)
def x05(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.minhash_signatures(docs, num_hashes=4, k=5).orderBy("doc_id")


@_q(
    "x06_minhash_lsh_pairs",
    f"""{_MINHASH_CHUNKS},
       sig AS (
         SELECT doc_id,
              {_minhash_oracle_terms(6)}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       )
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       ORDER BY id_a, id_b""",
    doc="MinHash-LSH candidate pairs: 2 bands x 3 rows (3-row bands keep "
    "the candidate set subquadratic on this small-vocabulary corpus); "
    "only same-band docs are joined — the near-dedup scale path.",
)
def x06(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    return dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    ).orderBy("id_a", "id_b")


@_q(
    "x07_ngram_jaccard",
    """WITH d AS (SELECT * FROM documents WHERE doc_id < 40),
       sh AS (
         SELECT DISTINCT doc_id, substr(text, i, 5) AS shingle
         FROM d, LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - 4, 1))) AS i)
       ),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       )
       SELECT id_a, id_b,
              ROUND(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
       FROM inter JOIN sizes sa ON id_a = sa.doc_id
                  JOIN sizes sb ON id_b = sb.doc_id
       ORDER BY id_a, id_b""",
    doc="Exact n-gram Jaccard similarity over a bounded doc subset "
    "(the LSH-verification stage of near-dedup).",
)
def x07(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    return dd.ngram_jaccard_pairs(docs, k=5).orderBy("id_a", "id_b")


@_q(
    "x08_simhash",
    """WITH tok AS (
         SELECT DISTINCT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
         FROM documents
       ),
       h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
       bits AS (SELECT unnest(generate_series(0, 15)) AS b),
       per_bit AS (
         SELECT doc_id, b,
                SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM h, bits GROUP BY doc_id, b
       )
       SELECT doc_id,
              CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
       FROM per_bit GROUP BY doc_id ORDER BY doc_id""",
    doc="16-bit SimHash document fingerprints from md5 token hashes.",
)
def x08(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.simhash(docs, bits=16).orderBy("doc_id")


@_q(
    "x09_cosine_topk",
    """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_dot_product(q.v, c.v)
                  / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS s
         FROM q JOIN c ON q.vec_id != c.vec_id
       ),
       ranked AS (
         SELECT query_id, neighbor_id, s,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
         FROM scored
       )
       SELECT query_id, neighbor_id, rank, ROUND(s, 6) AS cosine
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    doc="Brute-force cosine top-5 similarity search (10 query vectors vs "
    "the full corpus) — the exact baseline for ANN.",
    bnlj_bounded=1,
)
def x09(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cosine_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5
    ).orderBy("query_id", "rank")


@_q(
    "x10_embedding_neardup",
    """WITH cent AS (
         SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS vcent
         FROM embeddings WHERE vec_id < 300 ORDER BY vec_id LIMIT 8
       ),
       vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings WHERE vec_id < 300),
       assign AS (
         SELECT vec_id, v, centroid_id,
                ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_dot_product(v,
                    list_transform(vcent, x -> x /
                      (CASE WHEN sqrt(list_dot_product(vcent, vcent)) = 0 THEN 1.0
                            ELSE sqrt(list_dot_product(vcent, vcent)) END))) DESC,
                    centroid_id) AS r
         FROM vecs, cent
       ),
       lists AS (
         SELECT vec_id, centroid_id,
                list_transform(v, x -> x /
                  (CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                        ELSE sqrt(list_dot_product(v, v)) END)) AS nv
         FROM assign WHERE r <= 2
       ),
       pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                MAX(list_dot_product(a.nv, b.nv)) AS s
         FROM lists a JOIN lists b
           ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id
       )
       SELECT id_a, id_b, ROUND(s, 6) AS cosine
       FROM pairs WHERE ROUND(s, 6) > 0.4 ORDER BY id_a, id_b""",
    doc="Embedding-cosine near-duplicate pairs above 0.4 on a bounded "
    "subset via the IVF-bucketed path (equi-join on centroid_id, 8 "
    "lists, nprobe=2) — no registered query carries an unconditional "
    "O(n^2) crossJoin; the brute-force all-pairs form stays available "
    "as dedup.embedding_neardup_pairs (size-guarded) and serves as the "
    "recall verifier in tests/test_text_dedup.py.",
)
def x10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 300)
    return sim.cluster_neardup_pairs(
        emb, threshold=0.4, n_centroids=8, nprobe=2, dim=EMB_DIM
    ).orderBy("id_a", "id_b")


# All SFs of the synthetic embeddings table share this dimensionality
# (verified per-SF); a constant keeps the SRP oracle generatable and
# removes the per-call `.first()` dim probe.
EMB_DIM = 64


def _srp_oracle(dim: int, n_planes: int, k: int, n_queries: int) -> str:
    """DuckDB dual of srp_buckets + lsh_topk: the deterministic
    hyperplane floats (numpy RandomState(0), same as the Spark side) are
    inlined as DOUBLE[] literals, exactly the generated-oracle pattern
    _minhash_oracle_terms uses — the two engines cannot drift. Python's
    shortest-roundtrip float repr parses back to the identical double."""
    planes = sim._hyperplanes(dim, n_planes, seed=0)
    bits = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(float(w)) for w in plane) + "]::DOUBLE[]"
        bits.append(
            f"CASE WHEN list_dot_product(v, {lit}) > 0 THEN {1 << i} ELSE 0 END"
        )
    bucket = "\n                + ".join(bits)
    return f"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       b AS (SELECT vec_id, v, {bucket} AS bucket FROM e),
       q AS (SELECT vec_id AS query_id, v AS vq, bucket FROM b WHERE vec_id < {n_queries}),
       c AS (SELECT vec_id AS neighbor_id, v AS vc, bucket FROM b),
       scored AS (
         SELECT query_id, neighbor_id,
                list_dot_product(vq, vc)
                  / (sqrt(list_dot_product(vq, vq)) * sqrt(list_dot_product(vc, vc))) AS s
         FROM c JOIN q USING (bucket)
         WHERE neighbor_id != query_id
       ),
       ranked AS (
         SELECT query_id, neighbor_id, s,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
         FROM scored
       )
       SELECT query_id, neighbor_id, rank, ROUND(s, 6) AS cosine
       FROM ranked WHERE rank <= {k} ORDER BY query_id, rank"""


@_q(
    "x11_srp_lsh_topk",
    _srp_oracle(dim=EMB_DIM, n_planes=6, k=5, n_queries=10),
    doc="Sign-random-projection LSH approximate top-k (the ANN scale "
    "path): candidates restricted to the query's SRP bucket, exact "
    "cosine + window top-k on the candidate set. Oracle-checkable "
    "because the hyperplanes are deterministic literals shared with the "
    "generated DuckDB SQL; also validated against exact top-k in "
    "tests/test_similarity.py.",
)
def x11(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), dim=EMB_DIM, k=5, n_planes=6
    ).orderBy("query_id", "rank")


@_q(
    "x12_crop_grid",
    """WITH lens AS (SELECT DISTINCT p_size AS img_len FROM part WHERE p_size > 4),
       grid AS (
         SELECT img_len,
                ROW_NUMBER() OVER (PARTITION BY img_len ORDER BY s) - 1 AS crop_idx,
                s AS crop_start, s + 10 AS crop_end
         FROM lens, LATERAL (SELECT unnest(generate_series(0, img_len - 5, 6)) AS s)
       )
       SELECT img_len, crop_idx, crop_start, crop_end,
              MAX(crop_end) OVER (PARTITION BY img_len) - img_len AS padding
       FROM grid ORDER BY img_len, crop_idx""",
    doc="R1 crop-index grid as a generated dimension table (crop_size=10, "
    "overlap=4): starts/ends/right-padding per distinct image length — "
    "the broadcast side of the J5 crop fan-out cross join.",
)
def x12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.cropping import crop_grid_df

    lens = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("img_len")
    )
    return crop_grid_df(lens, crop_size=10, overlap_frac=0.4).orderBy(
        "img_len", "crop_idx"
    )


@_q(
    "x13_overlap_vote",
    """WITH votes AS (
         SELECT l_orderkey, l_suppkey, COUNT(*) AS n
         FROM lineitem GROUP BY l_orderkey, l_suppkey
       ),
       ranked AS (
         SELECT l_orderkey, l_suppkey, n,
                ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                   ORDER BY n DESC, l_suppkey) AS r
         FROM votes
       )
       SELECT l_orderkey, l_suppkey AS winner, n AS vote_count
       FROM ranked WHERE r = 1 ORDER BY l_orderkey LIMIT 200""",
    doc="A7 overlap majority vote (stitch conflict resolution): per key, "
    "the candidate with the most votes, ties to the smallest id — "
    "count + rank-1 window, the exact argmax shape of crop_utils.py:193-206.",
)
def x13(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    votes = li.groupBy("l_orderkey", "l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("l_orderkey").orderBy(F.col("n").desc(), F.col("l_suppkey"))
    return (
        votes.withColumn("r", F.row_number().over(w))
        .where(F.col("r") == 1)
        .select(
            "l_orderkey",
            F.col("l_suppkey").alias("winner"),
            F.col("n").alias("vote_count"),
        )
        .orderBy("l_orderkey")
        .limit(200)
    )


@_q(
    "x14_ivf_topk",
    """WITH cent AS (
         SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS vcent
         FROM embeddings ORDER BY vec_id LIMIT 8
       ),
       vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       assign AS (
         SELECT vec_id, v, centroid_id,
                ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_dot_product(v,
                    list_transform(vcent, x -> x /
                      (CASE WHEN sqrt(list_dot_product(vcent, vcent)) = 0 THEN 1.0
                            ELSE sqrt(list_dot_product(vcent, vcent)) END))) DESC,
                    centroid_id) AS r
         FROM vecs, cent
       ),
       inv    AS (SELECT vec_id AS neighbor_id, v AS vc, centroid_id FROM assign WHERE r = 1),
       probes AS (SELECT vec_id AS query_id, v AS vq, centroid_id
                  FROM assign WHERE r <= 2 AND vec_id < 10),
       cand AS (
         SELECT query_id, neighbor_id,
                MAX(list_dot_product(vq, vc)
                  / (sqrt(list_dot_product(vq, vq)) * sqrt(list_dot_product(vc, vc)))) AS s
         FROM inv JOIN probes USING (centroid_id)
         WHERE neighbor_id != query_id
         GROUP BY query_id, neighbor_id
       ),
       ranked AS (
         SELECT query_id, neighbor_id, s,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
         FROM cand
       )
       SELECT query_id, neighbor_id, rank, ROUND(s, 6) AS cosine
       FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""",
    doc="IVF approximate top-k (ANN scale path): corpus bucketed into 8 "
    "inverted lists by nearest centroid; queries probe their 2 nearest "
    "lists; exact cosine only within probed lists.",
)
def x14(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), n_centroids=8, nprobe=2, k=5
    ).orderBy("query_id", "rank")


@_q(
    "x15_json_extract",
    """SELECT event_type,
              (json_extract_string(props, '$.k')::BIGINT) // 10 AS k_bucket,
              COUNT(*) AS n,
              ROUND(AVG(json_extract_string(props, '$.k')::BIGINT), 4) AS avg_k
       FROM events
       GROUP BY event_type, k_bucket
       ORDER BY event_type, k_bucket""",
    doc="Schema-on-read JSON extraction over events.props (the metadata "
    "document pattern, data_loader.py:380-394): get_json_object path "
    "extraction feeding a grouped aggregate.",
)
def x15(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select("event_type", (k / 10).cast("long").alias("k_bucket"), k.alias("k"))
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("k"), 4).alias("avg_k"))
        .orderBy("event_type", "k_bucket")
    )


@_q(
    "x16_asof_join",
    """WITH p AS (
         SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
       ),
       v AS (
         SELECT user_id, ts, MAX(event_id) AS view_id
         FROM events WHERE event_type = 'view' GROUP BY user_id, ts
       )
       SELECT p.event_id, p.user_id, v.view_id AS view_id_matched
       FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
       ORDER BY p.event_id""",
    doc="As-of join (each purchase joined to the user's most recent "
    "at-or-before view): Spark side is the union+window carry-forward "
    "composition (one shuffle, no range-join blow-up); oracle side is "
    "DuckDB's native ASOF JOIN.",
)
def x16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
    )
    return (
        asof_join(purchases, views, on="ts", by="user_id", value_cols=["view_id"])
        .select("event_id", "user_id", "view_id_matched")
        .orderBy("event_id")
    )


@_q(
    "x17_sessionize",
    """WITH flagged AS (
         SELECT user_id, ts, value,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
       ),
       sess AS (
         SELECT user_id, ts, value,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged
       )
       SELECT user_id,
              epoch_us(MIN(ts)) AS sess_start_us,
              epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS sess_end_us,
              COUNT(*) AS n_events,
              ROUND(SUM(value), 2) AS sum_value
       FROM sess GROUP BY user_id, sid
       ORDER BY user_id, sess_start_us""",
    doc="Sessionization: Spark's native session_window (the batch twin of "
    "streaming/windows.py:session_counts — same operator, same plan) "
    "cross-checked against an independent gaps-and-islands SQL "
    "formulation. Session = events per user separated by < 30 min; "
    "window end = last event + gap, matching Spark's semantics. One "
    "shuffle on user_id; timestamps exported as exact epoch micros so "
    "the hash compare is engine-neutral.",
)
def x17(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("sess_start_us"),
            F.unix_micros(F.col("w.end")).alias("sess_end_us"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "sess_start_us")
    )


def _kmeans_ctes(
    k: int, dim: int, iters: int, src: str = "vecs", prefix: str = ""
) -> list[str]:
    """The unrolled Lloyd CTE chain over ``src`` (vec_id, v): final
    centroids land in {prefix}c{iters}, last assignment counts in
    {prefix}u{iters}. Shared by x19 (full vectors) and x80 (one chain
    per PQ subspace slice) so the two cannot drift."""
    guard = (
        "CASE WHEN list_dot_product(cvec, cvec) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(cvec, cvec)) END"
    )
    avg_list = "[" + ", ".join(f"avg(v[{i + 1}])" for i in range(dim)) + "]"
    ctes = [
        f"""{prefix}c0 AS (
         SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id, v AS cvec
         FROM (SELECT vec_id, v FROM {src} ORDER BY vec_id LIMIT {k})
       )""",
    ]
    for i in range(1, iters + 1):
        ctes.append(f"""{prefix}a{i} AS (
         SELECT vec_id, v, centroid_id FROM (
           SELECT vec_id, v, centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY s DESC, centroid_id) AS r
           FROM (SELECT vec_id, v, centroid_id,
                        list_dot_product(v,
                          list_transform(cvec, x -> x / ({guard}))) AS s
                 FROM {src}, {prefix}c{i - 1})
         ) WHERE r = 1
       )""")
        ctes.append(f"""{prefix}u{i} AS (
         SELECT centroid_id, COUNT(*) AS n, {avg_list}::DOUBLE[] AS cvec
         FROM {prefix}a{i} GROUP BY centroid_id
       )""")
        ctes.append(f"""{prefix}c{i} AS (
         SELECT p.centroid_id, COALESCE(u.cvec, p.cvec) AS cvec
         FROM {prefix}c{i - 1} p LEFT JOIN {prefix}u{i} u
           ON p.centroid_id = u.centroid_id
       )""")
    return ctes


def _kmeans_oracle(k: int, dim: int, iters: int) -> str:
    """DuckDB dual of kmeans_fit: the loop is unrolled into ``iters``
    assign/update CTE pairs (deterministic lowest-id init makes every
    pass SQL-expressible). Semantics mirrored exactly: cosine argmax ==
    dot with unit-normalized centroid, ties to the smaller centroid id
    (first-max), per-dimension avg update, empty clusters keep their
    previous centroid, counts reported from the LAST assignment pass.
    The final norm is rounded to 4 decimals so last-ulp differences in
    cross-engine float summation order cannot flip the hash."""
    ctes = [
        "vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
    ] + _kmeans_ctes(k, dim, iters)
    joined = ",\n       ".join(ctes)
    return f"""WITH {joined}
       SELECT c.centroid_id,
              COALESCE(u.n, 0) AS n_assigned,
              ROUND(sqrt(list_dot_product(c.cvec, c.cvec)), 4) AS centroid_norm
       FROM c{iters} c LEFT JOIN u{iters} u ON c.centroid_id = u.centroid_id
       ORDER BY c.centroid_id"""


@_q(
    "x19_kmeans_centroids",
    _kmeans_oracle(k=8, dim=EMB_DIM, iters=3),
    doc="Lloyd k-means over the embeddings table (8 clusters, 3 "
    "iterations, deterministic lowest-id init — no RNG). The engine's "
    "representative iterative algorithm: driver-resident centroids, one "
    "distributed pass per iteration (inline-literal assignment + "
    "per-dimension avg; the only shuffle is k x dim partial aggregates). "
    "Oracle-checkable because the fixed-iteration loop unrolls into "
    "generated assign/update CTE pairs (tol=0 pins the pass count; an "
    "early converged break would be a fixed point anyway). Output: "
    "per-centroid assignment count and vector norm.",
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    fit = sim.kmeans_fit(emb, n_clusters=8, max_iter=3, tol=0.0)
    norm = F.sqrt(
        F.aggregate(F.col("embedding"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return fit.select(
        "centroid_id",
        "n_assigned",
        F.round(norm, 4).alias("centroid_norm"),
    ).orderBy("centroid_id")


def _winnow_oracle(k: int, w: int) -> str:
    """DuckDB dual of winnow_fingerprints — generated from the same
    minhash_params(0) coefficients so the dialects cannot drift."""
    a, b, c = dd.minhash_params(0)
    return f"""WITH g AS (
         SELECT doc_id,
                greatest(length(text) - {k - 1}, 1) AS n_grams,
                i AS pos,
                substr(text, i, {k}) AS gram
         FROM documents,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i)
       ),
       h AS (
         SELECT doc_id, n_grams, pos,
                ({a} * ('0x' || substr(md5(gram), 1, 7))::BIGINT
               + {b} * ('0x' || substr(md5(gram), 9, 7))::BIGINT
               + {c}) % {dd.MINHASH_P} AS h
         FROM g
       ),
       sel AS (
         SELECT DISTINCT doc_id, fp FROM (
           SELECT doc_id, pos, n_grams,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
           FROM h
         ) WHERE pos <= greatest(n_grams - {w - 1}, 1)
       )
       SELECT doc_id, COUNT(*) AS n_fp, MIN(fp) AS min_fp, MAX(fp) AS max_fp
       FROM sel GROUP BY doc_id ORDER BY doc_id"""


@_q(
    "x18_winnow_fingerprint",
    _winnow_oracle(k=5, w=4),
    doc="Document fingerprinting by winnowing (Schleimer et al. 2003): "
    "rolling k-gram hash, per-window minima, distinct — guarantees any "
    "substring match of length >= w+k-1 shares a fingerprint. Spark side "
    "is one explode + one window (single shuffle); both engines hash via "
    "md5 chunks so the fingerprint values are bit-identical.",
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        dd.winnow_fingerprints(docs, k=5, w=4)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.min("fp").alias("min_fp"),
            F.max("fp").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


@_q(
    "x20_interval_join",
    """SELECT l.event_id AS event_id, r.event_id AS event_id_r
       FROM (SELECT * FROM events WHERE event_type = 'view') l
       JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
         ON l.user_id = r.user_id
        AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 1 HOUR
       ORDER BY event_id, event_id_r""",
    doc="Interval (stream-stream) join, batch form: each view paired "
    "with the same user's purchases in the following hour — "
    "streaming/windows.py:interval_join, the attribution shape whose "
    "streaming twin is watermark-bounded. Equi-key hash join on "
    "user_id; the time range is a co-partitioned post-join filter, "
    "never a cross product.",
)
def x20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return (
        interval_join(views, purchases, max_delay="1 hour")
        .select("event_id", "event_id_r")
        .orderBy("event_id", "event_id_r")
    )


# ---------------------------------------------------------------------------
# x21–x25: dedup clustering / TF-IDF / redaction / sampling / vocabulary
# ---------------------------------------------------------------------------

_X21_ORACLE = (
    _MINHASH_CHUNKS.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
       sig AS (
         SELECT doc_id,
              {{terms}}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       ),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       ),
       und AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
       reach(a, b) AS (
         SELECT u, v FROM und
         UNION
         SELECT r.a, e.v FROM reach r JOIN und e ON r.b = e.u
       ),
       comp AS (
         SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
       )
       SELECT d.doc_id AS doc_id,
              COALESCE(c.component, d.doc_id) AS cluster_id,
              COALESCE(c.component, d.doc_id) = d.doc_id AS is_canonical
       FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
       ORDER BY doc_id"""
)


@_q(
    "x21_dup_clusters",
    _X21_ORACLE.format(terms=_minhash_oracle_terms(6)),
    doc="Duplicate-cluster assignment: transitively close the x06 LSH "
    "candidate graph into connected components (alternating large-star/"
    "small-star — functions/graph.py) and label every document with its "
    "cluster's minimum doc_id; is_canonical marks the survivor. The "
    "closure input is lsh_band_star_edges — one (member, band-min) edge "
    "per band membership, which spans EXACTLY the same components as "
    "the C(n,2) clique pairs at O(docs x bands) edges (3.7M pairs -> "
    "~10k edges at sf0.1; linear instead of quadratic in the largest "
    "duplicate class at 100 TB). The oracle closes the clique-pair "
    "graph with a recursive CTE — same components by construction, and "
    "the parity is pinned by test_star_edges_same_components.",
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import graph as gr

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_band_star_edges(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    return gr.dup_clusters(docs, edges).orderBy("doc_id")


@_q(
    "x22_tfidf_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents
       ),
       tf AS (
         SELECT doc_id, term, COUNT(*) AS tf
         FROM tok WHERE term <> '' GROUP BY doc_id, term
       ),
       dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       n AS (SELECT COUNT(*) AS n_docs FROM documents),
       scored AS (
         SELECT doc_id, term, tf, df,
                ROUND(tf * (n_docs + 1) / (df + 1), 6) AS tfidf
         FROM tf JOIN dfreq USING (term) CROSS JOIN n
       ),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY tfidf DESC, term) AS rnk
         FROM scored
       )
       SELECT doc_id, term, tf, df, tfidf, rnk
       FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    doc="Top-3 characteristic terms per document by TF-IDF with "
    "linearized idf = (N+1)/(df+1) — exact cross-engine arithmetic "
    "(no libm log in the checked path; the ranking is identical). "
    "functions/text.py:tfidf_topk — doc-frequency table broadcasts.",
)
def x22(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.tfidf_topk(docs, k=3)
        .withColumnRenamed("rank", "rnk")
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
        .orderBy("doc_id", "rnk")
    )


_SCRUB_PATTERN = r"\b(customer|value|spark)\b"


@_q(
    "x23_pattern_scrub",
    f"""SELECT doc_id,
              len(regexp_split_to_array(text, '{_SCRUB_PATTERN}')) - 1
                  AS n_redacted,
              md5(regexp_replace(text, '{_SCRUB_PATTERN}', '<REDACTED>', 'g'))
                  AS redacted_fp
       FROM documents ORDER BY doc_id""",
    doc="Pattern scrubbing (the PII-redaction shape: emails/phones/ids "
    "in production, corpus-present words here): regexp_replace every "
    "match, count replacements, fingerprint the redacted text — "
    "functions/text.py:scrub, all JVM-side regex in one codegen stage.",
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.scrub(docs, _SCRUB_PATTERN).orderBy("doc_id")


_SAMPLE_FRACTIONS = {"en": 0.125, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.5}


def _x24_oracle() -> str:
    from deepcell_data_engineering_spark.functions import sampling as sp

    case = "CASE lang " + " ".join(
        f"WHEN '{s}' THEN {sp.threshold(f)}"
        for s, f in sorted(_SAMPLE_FRACTIONS.items())
    ) + " ELSE -1 END"
    return f"""SELECT doc_id, lang FROM documents
       WHERE ('0x' || substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
             < {case}
       ORDER BY doc_id"""


@_q(
    "x24_stratified_sample",
    _x24_oracle(),
    doc="Deterministic stratified sampling (downsample the dominant "
    "language): keep a row iff md5(seed, doc_id) falls under its "
    "stratum's integer threshold — functions/sampling.py. Pure filter, "
    "no shuffle, no RNG state; the sample is a function of the data, "
    "so it is stable across runs, partitionings, and engines.",
)
def x24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    return (
        sp.stratified_hash_sample(docs, _SAMPLE_FRACTIONS, "lang", "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@_q(
    "x25_vocab_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents
       )
       SELECT term, COUNT(*) AS tf_total, COUNT(DISTINCT doc_id) AS df
       FROM tok WHERE term <> ''
       GROUP BY term
       ORDER BY df DESC, tf_total DESC, term LIMIT 50""",
    doc="Vocabulary building: corpus-wide term frequency + document "
    "frequency, top-50 by df. The word-count-at-scale shape: explode "
    "over a narrow (doc_id, text) projection, two-phase aggregate with "
    "map-side partials; countDistinct expands (term, doc) then "
    "collapses — both shuffles key on term.",
)
def x25(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.tokens(docs)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("df").desc(), F.col("tf_total").desc(), "term")
        .limit(50)
    )


_BM25_TERMS = ["spark", "window", "merge"]


def _x26_oracle() -> str:
    filters = "\n".join(
        f"              COUNT(*) FILTER (WHERE term = '{t}') AS tf_{i},"
        for i, t in enumerate(_BM25_TERMS)
    )
    dfs = "\n".join(
        f"              COUNT(*) FILTER (WHERE tf_{i} > 0) AS df_{i},"
        for i in range(len(_BM25_TERMS))
    )
    score = " + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{i} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{i} AS DOUBLE) * 2.2)"
        f" / (CAST(tf_{i} AS DOUBLE) + 1.2 * (0.25 + 0.75"
        f" * (CAST(dl AS DOUBLE)"
        f" / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"
        for i in range(len(_BM25_TERMS))
    )
    return f"""WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents
       ),
       perdoc AS (
         SELECT doc_id,
{filters}
                COUNT(*) AS dl
         FROM tok WHERE term <> '' GROUP BY doc_id
       ),
       g AS (
         SELECT
{dfs}
                COUNT(*) AS n_docs, SUM(dl) AS sum_dl
         FROM perdoc
       )
       SELECT doc_id, dl, ROUND({score}, 6) AS bm25
       FROM perdoc CROSS JOIN g ORDER BY doc_id"""


@_q(
    "x26_bm25",
    _x26_oracle(),
    doc="Okapi BM25 relevance scoring for a fixed bag-of-terms query "
    "(k1=1.2, b=0.75) — functions/text.py:bm25_scores. The fixed term "
    "list pivots into per-doc conditional counts: one explode, one "
    "per-doc agg, one broadcast 1-row global (N, avgdl, per-term df), "
    "then scalar math; identical expression order keeps the rounded "
    "score engine-stable.",
)
def x26(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.bm25_scores(docs, _BM25_TERMS)
        .select("doc_id", "dl", "bm25")
        .orderBy("doc_id")
    )


def _x27_oracle() -> str:
    from deepcell_data_engineering_spark.functions import sampling as sp

    case = "CASE lang " + " ".join(
        f"WHEN '{s}' THEN {sp.threshold(f)}"
        for s, f in sorted(_SAMPLE_FRACTIONS.items())
    ) + " ELSE -1 END"
    return f"""WITH q AS (
         SELECT doc_id, lang,
                len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                md5(lower(trim(text))) AS fp
         FROM documents
       ),
       canon AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
         FROM q
       )
       SELECT doc_id, lang, n_tokens FROM canon
       WHERE rn = 1
         AND n_tokens BETWEEN 20 AND 400
         AND ('0x' || substr(md5('s0:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
             < {case}
       ORDER BY doc_id"""


@_q(
    "x27_corpus_build",
    _x27_oracle(),
    doc="End-to-end training-corpus selection composing the pipeline "
    "stages: exact-dedup canonicalization (min doc_id per text "
    "fingerprint, one window), token-count quality gate, and "
    "deterministic per-language stratified downsampling — the flagship "
    "'build the training set' flow. Every stage is a filter or a "
    "single-shuffle window; nothing touches the driver.",
)
def x27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import sampling as sp

    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "lang",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )
    canon = q.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")),
    ).where(F.col("rn") == 1)
    gated = canon.where(F.col("n_tokens").between(20, 400))
    return (
        sp.stratified_hash_sample(gated, _SAMPLE_FRACTIONS, "lang", "doc_id")
        .select("doc_id", "lang", "n_tokens")
        .orderBy("doc_id")
    )


# GPT-2-style pre-tokenizer regex, restricted to the RE2 ∩ Java-regex
# common subset (ASCII classes, no lookarounds): contractions, runs of
# letters / digits / other-symbols (each with optional leading space),
# and whitespace runs.
_BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


@_q(
    "x28_bpe_tokens",
    f"""SELECT doc_id,
              len(regexp_split_to_array(trim(text), '\\s+')) AS n_ws,
              len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}'))
                  AS n_bpe
       FROM documents ORDER BY doc_id""",
    doc="Token counting both ways the task needs it: whitespace tokens "
    "and a BPE-ish pre-tokenizer regex (GPT-2 shape: contractions, "
    "letter/digit/symbol runs with leading-space attachment) — the "
    "cost estimator for training-corpus sizing. Pure regexp_extract_all "
    "+ size, JVM-side, one codegen stage.",
)
def x28(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count(F.col("text")).alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), F.lit(0))).alias(
            "n_bpe"
        ),
    ).orderBy("doc_id")


@_q(
    "x29_semantic_neardup",
    """WITH cent AS (
         SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS vcent
         FROM embeddings ORDER BY vec_id LIMIT 32
       ),
       vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       assign AS (
         SELECT vec_id, v, centroid_id,
                ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_dot_product(v,
                    list_transform(vcent, x -> x /
                      (CASE WHEN sqrt(list_dot_product(vcent, vcent)) = 0 THEN 1.0
                            ELSE sqrt(list_dot_product(vcent, vcent)) END))) DESC,
                    centroid_id) AS r
         FROM vecs, cent
       ),
       lists AS (
         SELECT vec_id, centroid_id,
                list_transform(v, x -> x /
                  (CASE WHEN sqrt(list_dot_product(v, v)) = 0 THEN 1.0
                        ELSE sqrt(list_dot_product(v, v)) END)) AS nv
         FROM assign WHERE r <= 2
       ),
       pairs AS (
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                MAX(list_dot_product(a.nv, b.nv)) AS s
         FROM lists a JOIN lists b
           ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
         GROUP BY a.vec_id, b.vec_id
       )
       SELECT id_a, id_b, ROUND(s, 6) AS cosine
       FROM pairs WHERE ROUND(s, 6) > 0.4 ORDER BY id_a, id_b""",
    doc="Semantic near-dup at scale: embedding-cosine pairs restricted "
    "to shared IVF lists (functions/similarity.py:cluster_neardup_pairs"
    ") — x10's all-pairs brute force becomes an equi-join on "
    "centroid_id; nprobe=2 multi-assignment preserves recall across "
    "list boundaries.",
)
def x29(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return sim.cluster_neardup_pairs(emb, threshold=0.4, dim=EMB_DIM).orderBy("id_a", "id_b")


def _containment_oracle(k: int, w: int, min_share: float, max_bucket: int) -> str:
    a, b, c = dd.minhash_params(0)
    return f"""WITH g AS (
         SELECT doc_id,
                greatest(length(text) - {k - 1}, 1) AS n_grams,
                i AS pos,
                substr(text, i, {k}) AS gram
         FROM documents,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i)
       ),
       h AS (
         SELECT doc_id, n_grams, pos,
                ({a} * ('0x' || substr(md5(gram), 1, 7))::BIGINT
               + {b} * ('0x' || substr(md5(gram), 9, 7))::BIGINT
               + {c}) % {dd.MINHASH_P} AS h
         FROM g
       ),
       sel AS (
         SELECT DISTINCT doc_id, fp FROM (
           SELECT doc_id, pos, n_grams,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
           FROM h
         ) WHERE pos <= greatest(n_grams - {w - 1}, 1)
       ),
       keep AS (
         SELECT fp FROM (SELECT fp, COUNT(*) AS c FROM sel GROUP BY fp)
         WHERE c <= {max_bucket}
       ),
       fps AS (SELECT sel.doc_id, sel.fp FROM sel JOIN keep USING (fp)),
       sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM fps GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id != b.doc_id
         GROUP BY a.doc_id, b.doc_id
       )
       SELECT id_a, id_b,
              ROUND(n_inter / n_fp, 6) AS share
       FROM inter JOIN sizes ON id_a = sizes.doc_id
       WHERE ROUND(n_inter / n_fp, 6) >= {min_share}
       ORDER BY id_a, id_b""".replace("{max_bucket}", str(max_bucket))


@_q(
    "x30_containment",
    _containment_oracle(k=5, w=4, min_share=0.8, max_bucket=64),
    doc="Directed near-containment pairs (functions/dedup.py:"
    "containment_pairs): share(A->B) = |fp(A) n fp(B)| / |fp(A)| over "
    "winnowing fingerprints — catches subset duplication (quotes, "
    "boilerplate, doc-inside-doc) that symmetric Jaccard under-scores. "
    "Fingerprint-value self-join + one count per directed pair; all "
    "arithmetic rational. The ubiquitous-boilerplate bucket cap "
    "(max_bucket=64) is LOAD-BEARING on this tiny-vocabulary corpus: "
    "uncapped, the hottest fingerprint holds ~4k docs at sf0.1 and the "
    "join does ~600M pair-rows.",
)
def x30(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, min_share=0.8, max_bucket=64).orderBy(
        "id_a", "id_b"
    )


@_q(
    "x31_corpus_report",
    """WITH q AS (
         SELECT doc_id, lang, source,
                len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
                md5(lower(trim(text))) AS fp
         FROM documents
       ),
       d AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
                    AS is_canon
         FROM q
       )
       SELECT lang, source, COUNT(*) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS tokens_total,
              COUNT(*) FILTER (WHERE NOT is_canon) AS n_dups,
              ROUND(AVG(n_tokens), 4) AS avg_tokens
       FROM d GROUP BY lang, source ORDER BY lang, source""",
    doc="Corpus health report — the observability rollup every corpus "
    "pipeline publishes: per (lang, source) document counts, token "
    "totals, exact-duplicate counts (non-canonical rows of each text "
    "fingerprint), and mean length. One fingerprint window + one "
    "grouped agg; the avg is an exact integer sum over an exact count.",
)
def x31(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        "lang",
        "source",
        tx.token_count(F.col("text")).alias("n_tokens"),
        tx.fingerprint(F.col("text")).alias("fp"),
    )
    d = q.withColumn(
        "is_canon",
        F.row_number().over(Window.partitionBy("fp").orderBy("doc_id")) == 1,
    )
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("tokens_total"),
            F.count(F.when(~F.col("is_canon"), 1)).alias("n_dups"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


@_q(
    "x32_repetition_signals",
    """WITH t AS (
         SELECT doc_id,
                regexp_split_to_array(trim(lower(text)), '\\s+') AS w,
                list_transform(
                  generate_series(1, len(regexp_split_to_array(trim(lower(text)), '\\s+')) - 1),
                  i -> regexp_split_to_array(trim(lower(text)), '\\s+')[i]
                       || ' ' ||
                       regexp_split_to_array(trim(lower(text)), '\\s+')[i + 1]
                ) AS bg
         FROM documents
       )
       SELECT doc_id,
              ROUND((len(w) - len(list_distinct(w))) / len(w), 4) AS dup_word_frac,
              CASE WHEN len(bg) > 0 THEN
                ROUND(list_max(list_transform(list_distinct(bg),
                        x -> len(list_filter(bg, y -> y = x)))) / len(bg), 4)
              ELSE 0.0 END AS top_bigram_frac
       FROM t ORDER BY doc_id""",
    doc="Gopher-style repetition quality signals (Rae et al. 2021 "
    "A1.1), word-level: duplicate-word fraction and most-frequent-"
    "bigram share per document — the boilerplate/spam filter inputs. "
    "Pure per-row array higher-order functions: no explode, no "
    "shuffle, one codegen stage (a map over the corpus at 100 TB).",
)
def x32(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        tx.repetition_signals(docs)
        .select("doc_id", "dup_word_frac", "top_bigram_frac")
        .orderBy("doc_id")
    )


def _decontam_oracle(k: int, w: int, holdout_mod: int) -> str:
    """DuckDB dual of dedup.decontaminate with the held-out set selected
    by doc_id % holdout_mod == 0 — fingerprint CTEs generated from the
    same minhash_params(0) coefficients as the engine."""
    a, b, c = dd.minhash_params(0)
    fp_cte = f"""SELECT DISTINCT doc_id, fp FROM (
           SELECT doc_id, pos, n_grams,
                  MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS fp
           FROM (
             SELECT doc_id, n_grams, pos,
                    ({a} * ('0x' || substr(md5(gram), 1, 7))::BIGINT
                   + {b} * ('0x' || substr(md5(gram), 9, 7))::BIGINT
                   + {c}) % {dd.MINHASH_P} AS h
             FROM (
               SELECT doc_id,
                      greatest(length(text) - {k - 1}, 1) AS n_grams,
                      i AS pos,
                      substr(text, i, {k}) AS gram
               FROM src,
                    LATERAL (SELECT unnest(generate_series(1, greatest(length(text) - {k - 1}, 1))) AS i)
             )
           )
         ) WHERE pos <= greatest(n_grams - {w - 1}, 1)"""
    return f"""WITH train AS (SELECT * FROM documents WHERE doc_id % {holdout_mod} <> 0),
       heldout AS (SELECT * FROM documents WHERE doc_id % {holdout_mod} = 0),
       tf AS (WITH src AS (SELECT * FROM train) {fp_cte}),
       hf AS (SELECT DISTINCT fp FROM (WITH src AS (SELECT * FROM heldout) {fp_cte})),
       hits AS (SELECT DISTINCT doc_id FROM tf SEMI JOIN hf USING (fp))
       SELECT t.doc_id, COALESCE(h.doc_id IS NOT NULL, FALSE) AS contaminated
       FROM train t LEFT JOIN hits h USING (doc_id)
       ORDER BY t.doc_id"""


@_q(
    "x33_decontaminate",
    _decontam_oracle(k=5, w=4, holdout_mod=20),
    doc="Test-set decontamination (dedup.decontaminate): flag training "
    "docs sharing any winnowing fingerprint with a held-out eval set "
    "(every 20th doc_id here) — winnowing guarantees any common "
    "substring >= w+k-1 chars shares a fingerprint, so verbatim eval "
    "leakage is caught without an all-pairs scan. The held-out "
    "fingerprint set broadcasts (eval sets are tiny vs the corpus).",
)
def x33(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 20 != 0)
    heldout = docs.where(F.col("doc_id") % 20 == 0)
    return dd.decontaminate(train, heldout, k=5, w=4).orderBy("doc_id")


@_q(
    "x34_chunk_documents",
    """WITH c AS (
         SELECT doc_id, i AS chunk_idx,
                substr(text, i * 150 + 1, 200) AS chunk_text
         FROM documents,
              LATERAL (SELECT unnest(generate_series(0,
                CAST(floor((greatest(length(text) - 200, 0) + 149) / 150) AS INT))) AS i)
       )
       SELECT doc_id, chunk_idx,
              length(chunk_text) AS chunk_len,
              md5(chunk_text) AS chunk_md5
       FROM c ORDER BY doc_id, chunk_idx""",
    doc="RAG-style overlapping character chunking (200-char windows, "
    "stride 150): every char covered, last chunk short. A generator "
    "explode over a narrow (id, text) projection — the shingle scale "
    "shape; chunk identity via md5 so both engines hash the same "
    "substring bytes.",
)
def x34(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.chunk_documents(docs, chunk_size=200, stride=150).orderBy(
        "doc_id", "chunk_idx"
    )


@_q(
    "x35_pack_sequences",
    """WITH p AS (
         SELECT doc_id, lang,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         FROM documents
       ),
       packed AS (
         SELECT doc_id, lang, n_tokens,
                CAST(floor((SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                     / 512) AS BIGINT) AS pack_id
         FROM p
       )
       SELECT lang, pack_id,
              COUNT(*) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
              CAST(MIN(doc_id) AS BIGINT) AS first_doc,
              CAST(MAX(doc_id) AS BIGINT) AS last_doc
       FROM packed GROUP BY lang, pack_id ORDER BY lang, pack_id""",
    doc="Deterministic sequence packing (text.pack_sequences): documents "
    "assigned to 512-token training context windows by running offset "
    "within each language, in doc_id order — the batch-assembly step "
    "between corpus and trainer. One window shuffle on (lang, doc_id) "
    "plus the per-pack rollup; no driver state, no reordering.",
)
def x35(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    packed = tx.pack_sequences(docs, budget=512, part_col="lang")
    return (
        packed.groupBy("lang", "pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "pack_id")
    )


@_q(
    "x36_embedding_health",
    """WITH n AS (
         SELECT label,
                ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS nrm
         FROM embeddings
       )
       SELECT label,
              COUNT(*) AS n_vecs,
              ROUND(MIN(nrm), 4) AS min_norm,
              ROUND(MAX(nrm), 4) AS max_norm,
              ROUND(AVG(nrm), 4) AS avg_norm,
              COUNT(*) FILTER (WHERE nrm = 0) AS n_zero
       FROM n GROUP BY label ORDER BY label""",
    doc="Embedding-table health check: per-label vector counts and norm "
    "range/mean plus zero-vector count — the sanity gate before any "
    "ANN/dedup stage trusts the embedding column. Norms are rounded "
    "pre-aggregation so both engines average identical doubles; one "
    "grouped agg with map-side partials.",
)
def x36(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ),
        6,
    )
    n = emb.select("label", nrm.alias("nrm"))
    return (
        n.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.min("nrm"), 4).alias("min_norm"),
            F.round(F.max("nrm"), 4).alias("max_norm"),
            F.round(F.avg("nrm"), 4).alias("avg_norm"),
            F.count(F.when(F.col("nrm") == 0, 1)).alias("n_zero"),
        )
        .orderBy("label")
    )


@_q(
    "x37_funnel",
    """WITH t1 AS (
         SELECT user_id, MIN(ts) AS ts1 FROM events
         WHERE event_type = 'view' GROUP BY user_id
       ),
       t2 AS (
         SELECT e.user_id, MIN(e.ts) AS ts2
         FROM events e JOIN t1 USING (user_id)
         WHERE e.event_type = 'click' AND e.ts > t1.ts1
         GROUP BY e.user_id
       ),
       t3 AS (
         SELECT e.user_id, MIN(e.ts) AS ts3
         FROM events e JOIN t2 USING (user_id)
         WHERE e.event_type = 'purchase' AND e.ts > t2.ts2
         GROUP BY e.user_id
       )
       SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
              (SELECT COUNT(*) FROM t1) AS n_view,
              (SELECT COUNT(*) FROM t2) AS n_view_click,
              (SELECT COUNT(*) FROM t3) AS n_full_funnel,
              (SELECT ROUND(AVG(epoch(ts3 - ts1)), 2)
               FROM t3 JOIN t1 USING (user_id)) AS avg_funnel_sec""",
    doc="Ordered-funnel analysis (view -> click -> purchase, strictly "
    "increasing event times per user) — the event-sequence shape every "
    "product-analytics warehouse runs. Spark side: three chained "
    "conditional window minima over ONE user partitioning (the "
    "exchange is planned once; no self-joins), then a global rollup. "
    "The oracle takes the equivalent join formulation.",
)
def x37(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s = s.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                F.col("ts"),
            )
        ).over(w),
    )
    s = s.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = s.groupBy("user_id").agg(
        F.first("t1").alias("t1"), F.first("t2").alias("t2"), F.first("t3").alias("t3")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_view_click"),
        F.count("t3").alias("n_full_funnel"),
        F.round(
            F.avg(
                F.when(
                    F.col("t3").isNotNull(),
                    (F.unix_micros("t3") - F.unix_micros("t1")) / F.lit(1e6),
                )
            ),
            2,
        ).alias("avg_funnel_sec"),
    )


@_q(
    "x38_gapfill",
    """WITH e AS (SELECT * FROM events WHERE value > 90),
       hourly AS (
         SELECT event_type, date_trunc('hour', ts) AS h,
                COUNT(*) AS n, ROUND(SUM(value), 2) AS v
         FROM e GROUP BY 1, 2
       ),
       bounds AS (
         SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY 1
       ),
       spine AS (
         SELECT event_type, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
         FROM bounds
       ),
       joined AS (
         SELECT s.event_type, s.h, hourly.n, hourly.v
         FROM spine s LEFT JOIN hourly USING (event_type, h)
       )
       SELECT event_type, h,
              COALESCE(n, 0) AS n_events,
              ROUND(COALESCE(last_value(v IGNORE NULLS) OVER (
                PARTITION BY event_type ORDER BY h
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 2) AS v_filled,
              v IS NULL AS is_gap
       FROM joined ORDER BY event_type, h""",
    doc="Time-series resample + gap fill: hourly rollup of a sparse "
    "event slice, a generated calendar spine per series (sequence + "
    "explode — no driver loop), left join, and last-observation-"
    "carried-forward via last(v, ignorenulls) over the series window. "
    "The standard warehouse densification every metrics pipeline "
    "needs; one shuffle for the rollup, one for the series window.",
)
def x38(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 90)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    joined = spine.join(hourly, on=["event_type", "h"], how="left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "h",
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.round(
            F.coalesce(F.last("v", ignorenulls=True).over(w), F.lit(0.0)), 2
        ).alias("v_filled"),
        F.col("v").isNull().alias("is_gap"),
    ).orderBy("event_type", "h")


@_q(
    "x39_salted_skew_join",
    """WITH j AS (
         SELECT e.event_type, c.c_mktsegment, e.value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
       )
       SELECT event_type, c_mktsegment,
              COUNT(*) AS n,
              ROUND(SUM(value), 2) AS total_value
       FROM j GROUP BY event_type, c_mktsegment
       ORDER BY event_type, c_mktsegment""",
    doc="Skew-resistant fact-to-dimension enrichment: the events fact "
    "side concentrates on few hot user_ids, so the join runs through "
    "plans/layout.py:salted_join — each hot key spreads across 8 salt "
    "sub-keys (deterministic hash of the row id) and the dimension "
    "replicates across salts with one explode, so no single task owns "
    "a hot key's whole row set. Row-for-row identical to the plain "
    "join (the oracle IS the plain join); the salting is pinned by "
    "tests/test_plans.py.",
)
def x39(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.plans.layout import salted_join

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(ev, cust, key="user_id", salt_source="event_id", n_salts=8)
    return (
        j.groupBy("event_type", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("event_type", "c_mktsegment")
    )


@_q(
    "x40_length_trim",
    """WITH t AS (
         SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
         FROM documents
       ),
       b AS (
         SELECT quantile_cont(n_tokens, 0.25) AS q1,
                quantile_cont(n_tokens, 0.75) AS q3
         FROM t
       )
       SELECT doc_id, n_tokens
       FROM t, b
       WHERE n_tokens >= q1 - 1.5 * (q3 - q1)
         AND n_tokens <= q3 + 1.5 * (q3 - q1)
       ORDER BY doc_id""",
    doc="Corpus length-outlier trim by the IQR rule: keep documents "
    "whose token count lies within [q1 - 1.5*IQR, q3 + 1.5*IQR] — the "
    "standard too-short/too-long filter stage. Quartile probabilities "
    "have exact binary interpolation fractions, so Spark's percentile "
    "and DuckDB's quantile_cont agree bitwise (the d43 certification "
    "argument) and the bound arithmetic is identical double math. The "
    "bounds attach as a broadcast scalar — one agg + one map filter, "
    "no second full scan shape at 100 TB beyond the quantile pass.",
)
def x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", tx.token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    b = t.agg(
        F.expr("percentile(n_tokens, 0.25)").alias("q1"),
        F.expr("percentile(n_tokens, 0.75)").alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        t.crossJoin(F.broadcast(b))
        .where(
            (F.col("n_tokens") >= F.col("q1") - 1.5 * iqr)
            & (F.col("n_tokens") <= F.col("q3") + 1.5 * iqr)
        )
        .select("doc_id", "n_tokens")
        .orderBy("doc_id")
    )


@_q(
    "x41_tumbling_rollup",
    """SELECT date_trunc('hour', ts) AS w_start,
              date_trunc('hour', ts) + INTERVAL 1 HOUR AS w_end,
              event_type,
              COUNT(*) AS cnt,
              ROUND(SUM(value), 2) AS sv
       FROM events
       GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    doc="Tumbling-window rollup THROUGH the streaming helper "
    "(streaming/windows.py:tumbling_counts): every helper there is "
    "source-agnostic — the identical plan aggregates a batch DataFrame "
    "here and runs incrementally under a watermark on a readStream "
    "(pinned by test_tumbling_batch_stream_parity). Registering the "
    "batch form gives the window logic an oracle verdict the "
    "stream-only form cannot have.",
)
def x41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.streaming.windows import tumbling_counts

    ev = load_table(spark, sf_dir, "events")
    return tumbling_counts(ev, "1 hour").orderBy("w_start", "event_type")


@_q(
    "x42_sliding_rollup",
    """SELECT w_start, w_start + INTERVAL 1 HOUR AS w_end,
              event_type, COUNT(*) AS cnt
       FROM (
         SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
                  AS w_start,
                event_type
         FROM events
       )
       GROUP BY 1, 2, 3 ORDER BY w_start, event_type""",
    doc="Sliding-window rollup (1 h window, 30 min slide) through the "
    "source-agnostic streaming helper sliding_counts — every event "
    "lands in exactly window/slide = 2 windows. The oracle derives the "
    "same assignment by unioning each event's two shifted 30-minute "
    "buckets (midnight-aligned in both engines, so bucket boundaries "
    "coincide). Stream form pinned by the batch/stream parity test.",
)
def x42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.streaming.windows import sliding_counts

    ev = load_table(spark, sf_dir, "events")
    return sliding_counts(ev, "1 hour", "30 minutes").orderBy(
        "w_start", "event_type"
    )


_X43_ORACLE = (
    _MINHASH_CHUNKS
    + """,
       sig AS (
         SELECT doc_id,
              {terms}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       ),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       ),
       und AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
       deg AS (SELECT u, COUNT(*) AS d FROM und GROUP BY u),
       nn AS (SELECT COUNT(*) AS n FROM deg),
       r0 AS (SELECT u, 1.0 / n AS r FROM deg, nn),
       r1 AS (SELECT e.v AS u, 0.15 / ANY_VALUE(nn.n) + 0.85 * SUM(r0.r / deg.d) AS r
              FROM und e JOIN r0 ON e.u = r0.u JOIN deg ON e.u = deg.u CROSS JOIN nn
              GROUP BY e.v),
       r2 AS (SELECT e.v AS u, 0.15 / ANY_VALUE(nn.n) + 0.85 * SUM(r1.r / deg.d) AS r
              FROM und e JOIN r1 ON e.u = r1.u JOIN deg ON e.u = deg.u CROSS JOIN nn
              GROUP BY e.v),
       r3 AS (SELECT e.v AS u, 0.15 / ANY_VALUE(nn.n) + 0.85 * SUM(r2.r / deg.d) AS r
              FROM und e JOIN r2 ON e.u = r2.u JOIN deg ON e.u = deg.u CROSS JOIN nn
              GROUP BY e.v)
       SELECT r3.u AS node, ROUND(r3.r, 6) AS rank, deg.d AS d
       FROM r3 JOIN deg ON r3.u = deg.u
       ORDER BY node"""
)


@_q(
    "x43_pagerank",
    _X43_ORACLE.format(terms=_minhash_oracle_terms(6)),
    doc="Duplicate-hub centrality: 3-iteration PageRank (damping 0.85) "
    "over the undirected x06 LSH candidate graph — boilerplate/template "
    "documents anchor dense near-dup neighborhoods and surface with the "
    "highest rank, the QA view a dedup pipeline publishes alongside "
    "x21's cluster sizes. The engine's third iterative-algorithm class "
    "(k-means: driver-scalar state; CC: shrinking edge relation; "
    "PageRank: fixed-size rank relation re-joined per round); every "
    "round is one edge-rank join + one grouped sum, with the edge list "
    "checkpointed once. Fixed iteration count keeps the oracle an "
    "unrolled-CTE dual over the same md5-derived graph.",
)
def x43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import graph as gr

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    pairs = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    return gr.pagerank(pairs, iters=3).orderBy("node")


@_q(
    "x44_unigram_logprob",
    """WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
         FROM documents
       ),
       tok2 AS (SELECT doc_id, term FROM tok WHERE term <> ''),
       vocab AS (SELECT term, COUNT(*) AS tf FROM tok2 GROUP BY term),
       total AS (SELECT COUNT(*) AS n FROM tok2),
       scored AS (
         SELECT t.doc_id,
                COUNT(*) AS n_tokens,
                SUM(-ln(v.tf / total.n)) AS nll
         FROM tok2 t JOIN vocab v USING (term) CROSS JOIN total
         GROUP BY t.doc_id
       )
       SELECT doc_id, n_tokens,
              ROUND(nll / n_tokens, 4) AS avg_nll
       FROM scored ORDER BY doc_id""",
    doc="Perplexity-proxy quality score: self-trained unigram LM "
    "(corpus term frequencies), per-document mean negative log "
    "probability — the LM-free stand-in for the perplexity filter "
    "every pre-training pipeline runs (high avg_nll = rare-token soup, "
    "low = repetitive boilerplate). The corpus is exploded exactly "
    "twice — once to materialize the vocabulary (localCheckpoint: the "
    "vocab is tiny at any scale), once for the per-doc score; the "
    "corpus token total is derived from the materialized vocabulary "
    "(sum of term frequencies) instead of a third full count() pass, "
    "and the vocab attach is a broadcast (vocabulary << corpus).",
)
def x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(docs)
    from pyspark.sql import Observation

    # the corpus token total rides the vocab pin job via observe (r13)
    # instead of a second aggregate over the just-pinned blocks
    _obs = Observation()
    vocab = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .observe(_obs, F.sum("tf").alias("total"))
        .localCheckpoint(eager=True)
    )
    total = _obs.get["total"]
    scored = (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(-F.log(F.col("tf") / F.lit(float(total)))).alias("nll"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("nll") / F.col("n_tokens"), 4).alias("avg_nll"),
    ).orderBy("doc_id")


_X45_ORACLE = (
    _MINHASH_CHUNKS.replace("FROM documents,", "FROM (SELECT * FROM documents WHERE doc_id < 200) documents,", 1)
    + """,
       sig AS (
         SELECT doc_id,
              {terms}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       ),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       ),
       dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
       sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id),
       inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       ),
       est AS (
         SELECT p.id_a, p.id_b,
                ROUND(((sa.h0 = sb.h0)::INT + (sa.h1 = sb.h1)::INT
                     + (sa.h2 = sb.h2)::INT + (sa.h3 = sb.h3)::INT
                     + (sa.h4 = sb.h4)::INT + (sa.h5 = sb.h5)::INT) / 6.0, 6) AS j_est
         FROM pairs p JOIN sig sa ON p.id_a = sa.doc_id
                      JOIN sig sb ON p.id_b = sb.doc_id
       )
       SELECT e.id_a AS id_a, e.id_b AS id_b, e.j_est AS j_est,
              COALESCE(ROUND(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 6), 0.0)
                AS j_exact,
              ROUND(ABS(e.j_est
                - COALESCE(ROUND(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 6),
                           0.0)), 6)
                AS abs_err
       FROM est e
       LEFT JOIN inter i ON e.id_a = i.id_a AND e.id_b = i.id_b
       JOIN sizes za ON e.id_a = za.doc_id
       JOIN sizes zb ON e.id_b = zb.doc_id
       ORDER BY e.id_a, e.id_b"""
)


@_q(
    "x45_minhash_calibration",
    _X45_ORACLE.format(terms=_minhash_oracle_terms(6)),
    doc="LSH parameter calibration — measure, don't guess: for every "
    "candidate pair on a bounded subset, the MinHash signature estimate "
    "(matching components / 6) side by side with the EXACT shingle-set "
    "Jaccard and the absolute error. This is the empirical check that "
    "the (num_hashes, band) configuration delivers the recall/precision "
    "the dedup pipeline assumes; run it on a corpus sample before "
    "committing parameters for a 100 TB pass. Candidate-scoped exact "
    "scoring (x07's machinery) keeps the verification cost linear in "
    "candidates, not pairs.",
)
def x45(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    pairs = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    exact = dd.ngram_jaccard_pairs(docs, candidate_pairs=pairs, k=5)
    sa = sigs.select(
        F.col("doc_id").alias("id_a"), *[F.col(f"h{j}").alias(f"a{j}") for j in range(6)]
    )
    sb = sigs.select(
        F.col("doc_id").alias("id_b"), *[F.col(f"h{j}").alias(f"b{j}") for j in range(6)]
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(6)
    )
    est = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(matches / F.lit(6.0), 6).alias("j_est"))
    )
    raw_exact = exact.select(
        "id_a", "id_b", F.col("jaccard").alias("__jx")
    )
    return (
        est.join(raw_exact, ["id_a", "id_b"], "left")
        .select(
            "id_a",
            "id_b",
            "j_est",
            F.coalesce(F.col("__jx"), F.lit(0.0)).alias("j_exact"),
            F.round(
                F.abs(F.col("j_est") - F.coalesce(F.col("__jx"), F.lit(0.0))), 6
            ).alias("abs_err"),
        )
        .orderBy("id_a", "id_b")
    )


@_q(
    "x46_df_heavy_hitters",
    r"""WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       )
       SELECT term, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
       FROM tok
       WHERE term <> ''
       GROUP BY term
       ORDER BY df DESC, tf DESC, term LIMIT 20""",
    doc="Corpus heavy hitters: the 20 terms with the highest document "
    "frequency, with their total term frequency — the stopword/"
    "boilerplate audit every corpus build starts with. ONE token "
    "explode feeding one grouped aggregation (count + count-distinct "
    "share the scan; Spark plans the distinct as an expand over the "
    "same shuffle); the final top-20 is a TakeOrdered, not a full "
    "sort, so the reduction is map-side-combined all the way down at "
    "any corpus size.",
)
def x46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(docs)
    return (
        toks.groupBy("term")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("tf"),
        )
        .orderBy(F.desc("df"), F.desc("tf"), "term")
        .limit(20)
    )


@_q(
    "x47_bigram_pmi",
    r"""WITH d AS (
         SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS arr
         FROM documents
       ),
       bi AS (
         SELECT unnest(arr[1:len(arr)-1]) AS term_a,
                unnest(arr[2:len(arr)]) AS term_b
         FROM d
       ),
       bic AS (
         SELECT term_a, term_b, COUNT(*) AS c_ab
         FROM bi WHERE term_a <> '' AND term_b <> ''
         GROUP BY term_a, term_b
       ),
       uni AS (
         SELECT term, COUNT(*) AS c
         FROM (SELECT unnest(arr) AS term FROM d)
         WHERE term <> '' GROUP BY term
       ),
       tot AS (
         SELECT (SELECT SUM(c) FROM uni) AS n_uni,
                (SELECT SUM(c_ab) FROM bic) AS n_bi
       )
       SELECT b.term_a AS term_a, b.term_b AS term_b, b.c_ab AS c_ab,
              ROUND(ln((b.c_ab / t.n_bi)
                       / ((ua.c / t.n_uni) * (ub.c / t.n_uni))), 4) + 0.0 AS pmi
       FROM bic b
       JOIN uni ua ON b.term_a = ua.term
       JOIN uni ub ON b.term_b = ub.term
       CROSS JOIN tot t
       WHERE b.c_ab >= 10
       ORDER BY term_a, term_b""",
    doc="Collocation mining: pointwise mutual information of adjacent "
    "token pairs (count >= 10) against the unigram model — the "
    "phrase-detection / tokenizer-merge-candidate primitive. Bigrams "
    "come from zipping the token array with its own 1-shifted slice "
    "(arrays_zip of two slices), so the pair stream is a generator over "
    "the scan with ZERO joins or shuffles before aggregation; the "
    "unigram attach broadcasts the tiny vocabulary twice and the "
    "corpus totals ride along as a 1-row broadcast cross join.",
)
def x47(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    d = docs.select(arr.alias("arr"))
    n = F.size("arr")
    bi = d.select(
        F.explode(
            F.arrays_zip(
                F.slice("arr", 1, n - 1).alias("term_a"),
                F.slice("arr", 2, n - 1).alias("term_b"),
            )
        ).alias("p")
    ).select(F.col("p.term_a").alias("term_a"), F.col("p.term_b").alias("term_b"))
    from pyspark.sql import Observation

    # both corpus totals ride their pin jobs via observe (r13) — the
    # two separate sum() actions over just-pinned blocks disappear.
    # n_bi is the UNFILTERED pair total (the oracle's tot CTE sums bic
    # before the c_ab >= 10 cut), so observing the pre-filter pin is
    # exactly the declared semantics.
    obs_bi, obs_uni = Observation(), Observation()
    bic_all = (
        bi.where((F.col("term_a") != "") & (F.col("term_b") != ""))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .observe(obs_bi, F.sum("c_ab").alias("n_bi"))
        .localCheckpoint(eager=True)  # pair counts reused: filter + total
    )
    bic = bic_all.where(F.col("c_ab") >= 10)
    uni = (
        d.select(F.explode("arr").alias("term"))
        .where(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .observe(obs_uni, F.sum("c").alias("n_uni"))
        .localCheckpoint(eager=True)  # tiny vocab: cut both lineage replays
    )
    totals = obs_uni.get
    n_bi = obs_bi.get["n_bi"]
    ua = uni.select(F.col("term").alias("term_a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("term").alias("term_b"), F.col("c").alias("c_b"))
    return (
        bic.join(F.broadcast(ua), "term_a")
        .join(F.broadcast(ub), "term_b")
        .select(
            "term_a",
            "term_b",
            "c_ab",
            (
                F.round(
                    F.log(
                        (F.col("c_ab") / F.lit(float(n_bi)))
                        / (
                            (F.col("c_a") / F.lit(float(totals["n_uni"])))
                            * (F.col("c_b") / F.lit(float(totals["n_uni"])))
                        )
                    ),
                    4,
                )
                + F.lit(0.0)  # normalize IEEE -0.0 so both engines print 0.0
            ).alias("pmi"),
        )
        .orderBy("term_a", "term_b")
    )


@_q(
    "x48_inverted_index",
    r"""WITH tok AS (
         SELECT DISTINCT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       )
       SELECT term, COUNT(*) AS df,
              array_to_string((list(doc_id ORDER BY doc_id))[1:50], ',')
                AS postings
       FROM tok
       WHERE term <> ''
       GROUP BY term
       ORDER BY df, term LIMIT 10""",
    doc="Posting-list construction for the 10 most selective terms: "
    "term -> document frequency + the first 50 sorted doc ids of its "
    "posting list (rarest-first selection and the 50-id truncation "
    "both bound the output at any corpus size — the same page-one "
    "truncation a retrieval index serves). One distinct + one grouped "
    "collect_list; sort_array + slice make the serialized list "
    "deterministic under any partitioning, and the comma-joined string "
    "keeps the driver's scalar value-hash sensitive to element order.",
)
def x48(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = tx.tokens(docs).distinct()
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.slice(F.sort_array(F.collect_list("doc_id")), 1, 50), ","
            ).alias("postings"),
        )
        .orderBy("df", "term")
        .limit(10)
    )


@_q(
    "x49_source_overlap",
    r"""WITH h AS (
         SELECT DISTINCT source,
                md5(array_to_string(
                  (regexp_split_to_array(lower(trim(text)), '\s+'))[1:5],
                  ' ')) AS th
         FROM documents
       )
       SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
       FROM h a JOIN h b ON a.th = b.th AND a.source < b.source
       GROUP BY a.source, b.source
       ORDER BY src_a, src_b""",
    doc="Cross-source contamination matrix: for every source pair, how "
    "many document fingerprints (md5 of the first 5 lowercased tokens "
    "— a prefix shingle that survives tail edits) they share — the "
    "audit that decides whether two feeds are independent or re-crawls "
    "of each other before mixing weights are assigned. Distinct "
    "(source, fingerprint) first, then a hash-equijoin: the join "
    "fan-out per fingerprint is the number of sources carrying it "
    "(bounded by the source count), never the raw duplicate count.",
)
def x49(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(
        F.slice(F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 1, 5), " "
    )
    h = docs.select("source", F.md5(prefix).alias("th")).distinct()
    a = h.select(F.col("source").alias("src_a"), "th")
    b = h.select(F.col("source").alias("src_b"), "th")
    return (
        a.join(b, "th")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("src_a", "src_b")
    )


_X50_EXACT = """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                list_dot_product(q.v, c.v)
                  / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS s
         FROM q JOIN c ON q.vec_id != c.vec_id
       ),
       ranked AS (
         SELECT query_id, neighbor_id,
                ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
         FROM scored
       )
       SELECT query_id, neighbor_id FROM ranked WHERE rank <= 5"""


@_q(
    "x50_ann_recall",
    f"""SELECT e.query_id AS query_id,
              ROUND(COUNT(a.neighbor_id) / 5.0, 2) AS recall_at_5
       FROM ({_X50_EXACT}) e
       LEFT JOIN ({_srp_oracle(dim=EMB_DIM, n_planes=6, k=5, n_queries=10)}) a
         ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       GROUP BY e.query_id ORDER BY query_id""",
    doc="ANN quality evaluation: recall@5 of the SRP-LSH index (x11) "
    "against brute-force exact top-5 (x09), per query — the "
    "measure-don't-guess gate before an approximate index replaces the "
    "exact path in a production pipeline (the ANN twin of x45's "
    "MinHash calibration). Composes the two existing operators and a "
    "left join; at scale the exact side runs on a query SAMPLE, which "
    "is exactly what this shape expresses (10 queries).",
    bnlj_bounded=1,
)
def x50(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = sim.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = sim.lsh_topk(emb, q, dim=EMB_DIM, k=5, n_planes=6).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.round(F.count("hit") / F.lit(5.0), 2).alias("recall_at_5"))
        .orderBy("query_id")
    )


_X51_ORACLE = (
    _X21_ORACLE[: _X21_ORACLE.rindex("SELECT d.doc_id")].rstrip().rstrip()
    + """,
       members AS (
         SELECT d.doc_id,
                COALESCE(c.component, d.doc_id) AS cluster_id,
                length(d.text) AS n_chars
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
       ),
       sized AS (
         SELECT cluster_id, COUNT(*) AS cluster_size
         FROM members GROUP BY cluster_id HAVING COUNT(*) >= 2
       ),
       ranked AS (
         SELECT m.cluster_id, m.doc_id, m.n_chars,
                ROW_NUMBER() OVER (PARTITION BY m.cluster_id
                                   ORDER BY m.n_chars DESC, m.doc_id) AS rn
         FROM members m JOIN sized s ON m.cluster_id = s.cluster_id
       )
       SELECT r.cluster_id AS cluster_id, r.doc_id AS rep_doc_id,
              r.n_chars AS rep_n_chars, s.cluster_size AS cluster_size
       FROM ranked r JOIN sized s ON r.cluster_id = s.cluster_id
       WHERE r.rn = 1 ORDER BY cluster_id"""
)


@_q(
    "x51_cluster_representatives",
    _X51_ORACLE.format(terms=_minhash_oracle_terms(6)),
    doc="Duplicate-cluster survivor selection by QUALITY, not identity: "
    "for every near-dup cluster (x21's connected components) of size "
    ">= 2, keep the longest member (ties to the lowest doc_id) as the "
    "canonical representative — what a dedup pipeline actually ships "
    "(x21's min-id canonical is a label; the kept document should be "
    "the best one). One row_number window over cluster members joined "
    "with the per-cluster size; clusters are tiny relative to the "
    "corpus, so the window partitions stay bounded at any scale.",
)
def x51(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import graph as gr

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_band_star_edges(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    members = gr.dup_clusters(docs, edges).join(
        docs.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    sized = (
        members.groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .where(F.col("cluster_size") >= 2)
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    return (
        members.join(sized, "cluster_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("rep_doc_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "cluster_size",
        )
        .orderBy("cluster_id")
    )


@_q(
    "x52_mixture_plan",
    """WITH counts AS (
         SELECT lang, COUNT(*) AS n_docs,
                SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                  AS n_tokens
         FROM documents GROUP BY lang
       ),
       tot AS (SELECT SUM(n_tokens) AS t FROM counts),
       temp AS (
         SELECT lang, n_docs, n_tokens,
                POW(n_tokens / tot.t, 0.3) AS w_raw
         FROM counts CROSS JOIN tot
       ),
       norm AS (SELECT SUM(w_raw) AS z FROM temp)
       SELECT t.lang AS lang, t.n_docs AS n_docs, t.n_tokens AS n_tokens,
              ROUND(t.n_tokens / tot.t, 6) AS p_raw,
              ROUND(t.w_raw / norm.z, 6) AS p_sample,
              ROUND((t.w_raw / norm.z) / (t.n_tokens / tot.t), 4) AS upweight
       FROM temp t CROSS JOIN tot CROSS JOIN norm
       ORDER BY lang""",
    doc="Temperature-scaled mixture planning (T = 0.3, the multilingual "
    "rebalancing rule from the XLM-R / mT5 line of work): per language, "
    "raw token share p_raw, the T-tempered sampling probability "
    "p_sample ~ p_raw^T renormalized, and the implied up/down-weight "
    "factor — the table a 100 TB pre-training mix is planned from. "
    "Pure two-level aggregation (per-lang token counts, then two scalar "
    "totals broadcast back); output is one row per language.",
)
def x52(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(tx.token_count(F.col("text"))).alias("n_tokens"),
    )
    tot = counts.agg(F.sum("n_tokens").alias("t"))
    temp = counts.crossJoin(F.broadcast(tot)).withColumn(
        "w_raw", F.pow(F.col("n_tokens") / F.col("t"), 0.3)
    )
    norm = temp.agg(F.sum("w_raw").alias("z"))
    return (
        temp.crossJoin(F.broadcast(norm))
        .select(
            "lang",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("t"), 6).alias("p_raw"),
            F.round(F.col("w_raw") / F.col("z"), 6).alias("p_sample"),
            F.round(
                (F.col("w_raw") / F.col("z")) / (F.col("n_tokens") / F.col("t")), 4
            ).alias("upweight"),
        )
        .orderBy("lang")
    )


@_q(
    "x53_incremental_lsh",
    f"""{_MINHASH_CHUNKS},
       sig AS (
         SELECT doc_id,
              {_minhash_oracle_terms(6)}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       )
       SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       WHERE a.doc_id % 4 = 0 OR b.doc_id % 4 = 0
       ORDER BY id_a, id_b""",
    doc="Incremental dedup against a persisted index: docs with "
    "doc_id % 4 == 0 arrive as the NEW batch, the rest are the existing "
    "corpus whose LSH band index (lsh_band_index — the materialized "
    "dedup state, written bucketed on band in production) is probed by "
    "the batch. Emits new-vs-old and new-vs-new candidates, never "
    "old-vs-old — at 100 TB this replaces a full-corpus self-join with "
    "a batch-vs-index lookup join (probe side = one day's arrivals, "
    "broadcast when small). Equivalence with the from-scratch "
    "recompute is pinned in tests/test_text_dedup.py; the oracle is "
    "the full-corpus pair set filtered to new-involving pairs — the "
    "same set by construction.",
)
def x53(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    bands = [["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    index = dd.lsh_band_index(
        dd.minhash_signatures(old, num_hashes=6, k=5), bands=bands
    )
    return dd.incremental_lsh_candidates(
        index, dd.minhash_signatures(new, num_hashes=6, k=5), bands=bands
    ).orderBy("id_a", "id_b")


@_q(
    "x54_stream_screen",
    f"""{_MINHASH_CHUNKS},
       sig AS (
         SELECT doc_id,
              {_minhash_oracle_terms(6)}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       ),
       old_bands AS (
         SELECT DISTINCT band FROM banded WHERE doc_id % 4 <> 0
       )
       SELECT DISTINCT b.doc_id AS doc_id, b.band AS band
       FROM banded b JOIN old_bands o ON b.band = o.band
       WHERE b.doc_id % 4 = 0
       ORDER BY doc_id, band""",
    doc="Batch form of the streaming near-dup screen "
    "(dedup.stream_index_collisions): arriving documents (doc_id % 4 "
    "== 0) whose LSH band collides with the persisted corpus index — "
    "one (doc, band) row per colliding membership. The EXACT code path "
    "the stream runs (row-local signatures, band explode, left-semi "
    "probe) is source-agnostic, so the driver-verified batch result "
    "certifies the streaming semantics too (batch/stream parity is "
    "additionally pinned under availableNow replay in "
    "tests/test_streaming.py).",
)
def x54(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 4 != 0)
    new = docs.where(F.col("doc_id") % 4 == 0)
    bands = [["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    index = dd.lsh_band_index(
        dd.minhash_signatures(old, num_hashes=6, k=5), bands=bands
    )
    return (
        dd.stream_index_collisions(new, index, bands=bands)
        .distinct()
        .orderBy("doc_id", "band")
    )


@_q(
    "x55_variant_extract",
    """SELECT event_type,
              COUNT(*) AS n,
              MIN(json_extract_string(props, '$.k')::BIGINT) AS k_min,
              MAX(json_extract_string(props, '$.k')::BIGINT) AS k_max,
              ROUND(AVG(json_extract_string(props, '$.k')::BIGINT), 4) AS k_avg
       FROM events
       GROUP BY event_type
       ORDER BY event_type""",
    doc="Semi-structured VARIANT path (Spark 4): events.props parses "
    "ONCE into the binary variant encoding (parse_json) and typed "
    "fields come out with try_variant_get — the engine-native "
    "replacement for re-parsing JSON text per get_json_object call "
    "(x15's pattern); at 100 TB the parse-once encoding is the "
    "difference between one scan-side decode and N of them. Oracle "
    "reads the same values through DuckDB's JSON extraction.",
)
def x55(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.round(F.avg("k"), 4).alias("k_avg"),
        )
        .orderBy("event_type")
    )


def _x56_oracle(n: int = 13) -> str:
    parts = " || ' ' || ".join(
        f"unnest(arr[{k}:len(arr)-{n - k}])" for k in range(1, n + 1)
    )
    return f"""WITH d AS (
         SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
         FROM documents
       ),
       w AS (SELECT doc_id, {parts} AS win FROM d WHERE len(arr) >= {n}),
       df AS (SELECT win, COUNT(DISTINCT doc_id) AS ndocs FROM w GROUP BY win),
       per AS (
         SELECT w.doc_id,
                COUNT(*) AS n_windows,
                SUM((df.ndocs > 1)::INT)::BIGINT AS n_dup
         FROM w JOIN df ON w.win = df.win GROUP BY w.doc_id
       )
       SELECT doc_id, n_windows, n_dup,
              ROUND(n_dup / n_windows, 4) AS dup_frac
       FROM per ORDER BY doc_id"""


@_q(
    "x56_dup_ngram_coverage",
    _x56_oracle(13),
    doc="Cross-document duplicated-substring coverage (the Lee et al. "
    "2022 'Deduplicating Training Data Makes Language Models Better' "
    "memorization-risk metric at fixed n): per document, the fraction "
    "of its 13-token windows that appear verbatim in ANY other "
    "document. Windows come from a per-row generator (transform over "
    "sequence + slice + array_join — no self-join to build them); the "
    "per-window distinct-doc count is a collect_set size over ONE "
    "window partition by the n-gram, so the whole metric costs two "
    "shuffles (window key, then doc rollup) regardless of corpus size. "
    "Documents scoring high here are what x53's incremental dedup "
    "quarantines.",
)
def x56(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = 13
    docs = load_table(spark, sf_dir, "documents")
    arr = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    wins = F.transform(
        F.sequence(F.lit(1), F.size(arr) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(arr, i, n), " "),
    )
    w = (
        docs.where(F.size(arr) >= n)
        .select("doc_id", F.explode(wins).alias("win"))
    )
    # "window appears in ANY other document" == its doc_id set has >= 2
    # members == min(doc_id) != max(doc_id) over the window's partition
    # (r13): two scalar window aggregates over ONE win-partition shuffle
    # replace the collect_set materialization — a boilerplate window
    # shared by thousands of docs no longer builds a doc-id SET per
    # partition, so per-partition state is O(1) instead of O(docs).
    wp = Window.partitionBy("win")
    dup = F.min("doc_id").over(wp) != F.max("doc_id").over(wp)
    per = (
        w.withColumn("dup", dup)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.col("dup").cast("long")).alias("n_dup"),
        )
    )
    return per.select(
        "doc_id",
        "n_windows",
        "n_dup",
        F.round(F.col("n_dup") / F.col("n_windows"), 4).alias("dup_frac"),
    ).orderBy("doc_id")


@_q(
    "x57_sketch_topk",
    r"""WITH tok AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       c AS (
         SELECT term, COUNT(*) AS count_min FROM tok
         WHERE term <> '' GROUP BY term
       ),
       ranked AS (
         SELECT term, count_min, count_min AS count_max,
                ROW_NUMBER() OVER (ORDER BY count_min DESC, term) AS rank
         FROM c
       )
       SELECT term, count_min, count_max, rank
       FROM ranked WHERE rank <= 15 ORDER BY rank""",
    doc="Bounded-memory heavy hitters (functions/sketch.py): Misra-"
    "Gries summaries folded per partition in one Arrow pass, merged "
    "with an explicit global error bound D (count_max - count_min) — "
    "the open-vocabulary answer where x46's exact aggregation state "
    "would be unbounded. Registered with capacity >= the vocabulary so "
    "the sketch provably never decrements (D = 0, exact, hash-"
    "checkable); the tight-capacity bounds and heavy-hitter guarantee "
    "are pinned in tests/test_sketch.py.",
)
def x57(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import misra_gries_topk

    docs = load_table(spark, sf_dir, "documents")
    return misra_gries_topk(tx.tokens(docs), k=15, capacity=100_000).orderBy("rank")


def _x72_oracle() -> str:
    """x72 must equal x34 byte-for-byte: reuse its oracle verbatim."""
    from deepcell_data_engineering_spark.relational.queries import QUERIES as _REG

    return _REG["x34_chunk_documents"].oracle


@_q(
    "x72_udtf_chunks",
    _x72_oracle(),
    doc="Python UDTF surface (Spark 4, functions/udtfs.py): the RAG "
    "chunker re-expressed as a user-defined TABLE function invoked "
    "through SQL LATERAL — row-at-a-time Python, the slow path BY "
    "DESIGN (x34's codegen generator explode is the production twin). "
    "The query certifies the UDTF plumbing itself: registration, "
    "lateral correlation, schema projection, and UTF-8 md5 identity "
    "hash-match the SAME oracle SQL as x34, so any drift between the "
    "imperative and declarative chunkers goes red at the gate.",
)
def x72(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.udtfs import register_chunk_udtf

    fn = register_chunk_udtf(spark)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("x72_docs")
    return spark.sql(
        f"""SELECT d.doc_id, c.chunk_idx, c.chunk_len, c.chunk_md5
            FROM x72_docs d, LATERAL {fn}(d.text) c
            ORDER BY d.doc_id, c.chunk_idx"""
    )


_X70_RECURSIVE = """WITH RECURSIVE reach(node, depth) AS (
  SELECT id_a AS node, 0 AS depth FROM {edges} WHERE id_a % 100 = 0
  UNION ALL
  SELECT DISTINCT e.v AS node, r.depth + 1 AS depth
  FROM reach r
  JOIN (SELECT id_a AS u, id_b AS v FROM {edges}
        UNION ALL SELECT id_b, id_a FROM {edges}) e ON e.u = r.node
  WHERE r.depth < 3
)
SELECT node, CAST(MIN(depth) AS BIGINT) AS depth
FROM reach GROUP BY node ORDER BY node"""


def _x70_oracle() -> str:
    from deepcell_data_engineering_spark.relational.queries import QUERIES as _REG

    edges_sql = _REG["x06_minhash_lsh_pairs"].oracle
    # RECURSIVE is a WITH-level modifier: hoist it to the front and
    # splice the x06 edge CTE in before the recursive member
    body = _X70_RECURSIVE.format(edges="e2").replace("WITH RECURSIVE ", "", 1)
    return f"WITH RECURSIVE e2 AS ({edges_sql}),\n{body}"


@_q(
    "x70_recursive_closure",
    _x70_oracle(),
    doc="Bounded transitive closure via Spark 4's RECURSIVE CTE: nodes "
    "within 3 hops of the seed docs (id % 100 = 0) in the LSH candidate "
    "graph, with their minimum hop distance — 'everything transitively "
    "near-duplicate of this audit set', the reachability question "
    "between x21's full components and x06's direct pairs. Each "
    "recursion step is DISTINCT-bounded (rows per step <= nodes, "
    "regardless of how dense the dup cliques are) and the depth guard "
    "makes termination structural. The SAME recursive SQL text runs on "
    "both engines; edges come from x06's certified pair query (temp "
    "view on the Spark side, embedded CTE in the oracle).",
)
def x70(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    ).localCheckpoint()  # each recursion step re-reads the view: pin it
    edges.createOrReplaceTempView("x70_edges")
    return spark.sql(_X70_RECURSIVE.format(edges="x70_edges"))


_X71_LATERAL = """SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM {customer} c, LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM {orders}
  WHERE o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 2
) l
WHERE c.c_custkey % 10 = 0
ORDER BY c.c_custkey, l.o_totalprice DESC, l.o_orderkey"""


@_q(
    "x71_lateral_topk",
    _X71_LATERAL.format(customer="customer", orders="orders"),
    doc="Correlated LATERAL subquery (per-customer top-2 orders by "
    "price): the SQL-surface twin of the window top-k (d04/d23) that "
    "Catalyst must DECORRELATE into a join — exercising the lateral-"
    "join planner path rather than WindowGroupLimit. The identical SQL "
    "text runs on both engines; the deterministic inner ORDER BY + "
    "LIMIT and the outer modulo subset keep the result total-ordered "
    "and bounded.",
)
def x71(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("x71_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("x71_orders")
    return spark.sql(_X71_LATERAL.format(customer="x71_customer", orders="x71_orders"))


def _hll_est_block(reg: str, groups: list[str]) -> str:
    """DuckDB estimator over a register CTE ``reg`` grouped by
    ``groups`` — the x59 formula parameterized by grouping level."""
    gsel = (", ".join(groups) + ",") if groups else ""
    gby = ("GROUP BY " + ", ".join(groups)) if groups else ""
    return f"""SELECT {gsel} zeros,
           CASE WHEN est_raw <= 2.5::DOUBLE * 4096.0::DOUBLE AND zeros > 0
                THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / zeros::DOUBLE)
                ELSE est_raw END AS est
    FROM (
      SELECT {gsel} 4096 - COUNT(*) AS zeros,
             0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
                 * 4096.0::DOUBLE * 4096.0::DOUBLE * 562949953421312.0::DOUBLE
                 / (CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT)
                    + (CAST(4096 AS BIGINT) - COUNT(*))
                      * CAST(562949953421312 AS BIGINT))::DOUBLE AS est_raw
      FROM {reg} {gby}
    )"""


def _x69_oracle() -> str:
    return rf"""WITH tok AS (
      SELECT source, lang,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
      FROM documents
    ),
    h AS (
      SELECT source, lang, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
      FROM tok WHERE term <> ''
    ),
    br AS (
      SELECT source, lang, h >> 48 AS bucket,
             CASE WHEN (h & 281474976710655) = 0 THEN 49
                  ELSE 48 - length(bin(h & 281474976710655)) + 1 END AS r0
      FROM h
    ),
    reg2 AS (SELECT source, lang, bucket, MAX(r0) AS r FROM br
             GROUP BY source, lang, bucket),
    reg1 AS (SELECT source, bucket, MAX(r) AS r FROM reg2
             GROUP BY source, bucket),
    reg0 AS (SELECT bucket, MAX(r) AS r FROM reg2 GROUP BY bucket),
    e2 AS ({_hll_est_block("reg2", ["source", "lang"])}),
    e1 AS ({_hll_est_block("reg1", ["source"])}),
    e0 AS ({_hll_est_block("reg0", [])})
    SELECT 0 AS lvl, source, lang, ROUND(est + 0.0, 2) AS est_distinct FROM e2
    UNION ALL
    SELECT 1, source, '(all)', ROUND(est + 0.0, 2) FROM e1
    UNION ALL
    SELECT 2, '(all)', '(all)', ROUND(est + 0.0, 2) FROM e0
    ORDER BY lvl, source, lang"""


@_q(
    "x69_hll_rollup",
    _x69_oracle(),
    doc="ROLLUP on sketch state (functions/sketch.py:"
    "hll_rollup_estimates): distinct-token estimates at (source, lang), "
    "(source), and grand-total granularity from ONE register build — "
    "the lattice property of max-merge registers (the sketch-state "
    "analog of d20's additive ROLLUP). A 100 TB corpus is scanned once; "
    "every coarser distinct count is a grouped max over the 4 KiB-per-"
    "group register table, never a rescan — the reason registers beat "
    "one-shot approx_count_distinct for reporting stacks. Rolled-up "
    "dimensions print '(all)' (not NULL) so row ordering is engine-"
    "portable.",
)
def x69(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        hll_registers,
        hll_rollup_estimates,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    reg = hll_registers(toks, "term", ["source", "lang"], p=12)
    return (
        hll_rollup_estimates(reg, ["source", "lang"], p=12)
        .select(
            "lvl",
            "source",
            "lang",
            F.round(F.col("est") + F.lit(0.0), 2).alias("est_distinct"),
        )
        .orderBy("lvl", "source", "lang")
    )


def _bpe_chain(rounds: int = 8) -> str:
    """The shared unrolled BPE-training CTE chain (WITH tok..s{rounds}):
    x68 reads the merge rules off it, x73 reads the final encoded vocab
    s{rounds} — one definition, so train and encode cannot drift."""
    parts = [
        r"""WITH tok AS MATERIALIZED (
      SELECT t AS term FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
        FROM documents) WHERE t <> ''),
    s0 AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS tf,
             ' ' || regexp_replace(term, '(.)', '\1  ', 'g') AS seq
      FROM tok GROUP BY term)"""
    ]
    for r in range(1, rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f""",
    p{r} AS (
      SELECT l[i] AS a, l[i + 1] AS b, CAST(SUM(tf) AS BIGINT) AS c
      FROM (SELECT tf, regexp_split_to_array(trim(seq), ' +') AS l FROM {prev}),
           UNNEST(range(1, len(l))) AS rr(i)
      GROUP BY a, b
    ),
    t{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
    s{r} AS MATERIALIZED (
      SELECT tf, replace(seq,
        ' ' || (SELECT a FROM t{r}) || '  ' || (SELECT b FROM t{r}) || ' ',
        ' ' || (SELECT a || b FROM t{r}) || ' ') AS seq
      FROM {prev}
    )"""
        )
    return "".join(parts)


def _x68_oracle(rounds: int = 8) -> str:
    """Unrolled BPE training rounds in DuckDB SQL (the x43 unrolled-CTE
    convention for iterative algorithms). MATERIALIZED pins each round's
    state so the multi-referenced CTE chain cannot inline into an
    exponentially duplicated expression tree."""
    unions = "\n       UNION ALL ".join(
        f"SELECT {r} AS round, a AS lhs, b AS rhs, a || b AS merged, "
        f"c AS pair_count FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return f"{_bpe_chain(rounds)}\n       {unions} ORDER BY round"


@_q(
    "x68_bpe_train",
    _x68_oracle(8),
    doc="BPE tokenizer TRAINING (functions/text.py:bpe_train) — the "
    "iterative merge-learning half of tokenization that x28's fixed-"
    "rule tokenizer presupposes, and the engine's fourth iterative-"
    "algorithm class (k-means, CC, PageRank, now BPE). The corpus is "
    "scanned exactly once (word-frequency aggregation); each of the 8 "
    "merge rounds is one distributed pair-count over the VOCABULARY "
    "table plus a 1-row argmax collect (driver state = one rule, never "
    "data), and the merge applies as a single non-overlapping left-to-"
    "right replace over DOUBLE-space-delimited sequences — the double "
    "delimiter makes one literal replace equal canonical greedy BPE "
    "even on back-to-back pair runs ('hahahaha'), identical in both "
    "engines. "
    "Oracle = the same 8 rounds unrolled as materialized CTEs; ties "
    "break by (count desc, lhs, rhs).",
)
def x68(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, rounds=8).orderBy("round")


def _x67_oracle() -> str:
    """Triangle counting over the SAME candidate graph x06 certifies —
    the edge CTE is x06's oracle verbatim, so the two queries cannot
    drift apart."""
    from deepcell_data_engineering_spark.relational.queries import QUERIES as _REG

    edges_sql = _REG["x06_minhash_lsh_pairs"].oracle
    return f"""WITH e AS (SELECT id_a AS u, id_b AS v FROM ({edges_sql})),
       tri AS (
         SELECT e1.u AS a, e1.v AS b, e2.v AS c
         FROM e e1
         JOIN e e2 ON e2.u = e1.v
         JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
       ),
       cnt AS (
         SELECT node, COUNT(*) AS n_triangles FROM (
           SELECT a AS node FROM tri
           UNION ALL SELECT b FROM tri
           UNION ALL SELECT c FROM tri
         ) GROUP BY node
       ),
       ranked AS (
         SELECT node, n_triangles,
                ROW_NUMBER() OVER (ORDER BY n_triangles DESC, node) AS rank
         FROM cnt
       )
       SELECT node, n_triangles, rank FROM ranked
       WHERE rank <= 10 ORDER BY rank"""


@_q(
    "x67_triangle_hubs",
    _x67_oracle(),
    doc="Triangle counting on the LSH candidate graph (functions/graph."
    "py:triangle_counts) — the engine's third graph-analytics operator "
    "beside connected components (x21) and PageRank (x43). Ordered "
    "enumeration (a<b<c via two equi-joins on u<v-normalized edges) "
    "finds each triangle exactly once with work bounded by the sparse "
    "candidate graph, never the corpus. Dense triangle neighborhoods "
    "flag template/boilerplate families before CC merges them. The "
    "oracle embeds x06's pair SQL verbatim as the edge CTE, so the "
    "certified graph is identical by construction.",
)
def x67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.graph import triangle_counts

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    counts = triangle_counts(edges, "id_a", "id_b")
    return (
        counts.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n_triangles"), "node")),
        )
        .where(F.col("rank") <= 10)
        .orderBy("rank")
    )


@_q(
    "x66_similarity_join_exact",
    r"""WITH tok AS (
         SELECT DISTINCT doc_id, term FROM (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
           FROM documents WHERE doc_id % 20 = 0
         ) WHERE term <> ''
       ),
       sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
       ov AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
         FROM tok a JOIN tok b ON a.term = b.term AND a.doc_id < b.doc_id
         GROUP BY doc_a, doc_b
       ),
       j AS (
         SELECT ov.doc_a, ov.doc_b, ov.c / (sa.n + sb.n - ov.c) AS jac
         FROM ov
         JOIN sz sa ON sa.doc_id = ov.doc_a
         JOIN sz sb ON sb.doc_id = ov.doc_b
       )
       SELECT doc_a, doc_b, ROUND(jac + 0.0, 4) AS jaccard
       FROM j WHERE jac >= 0.9
       ORDER BY jaccard DESC, doc_a, doc_b LIMIT 50""",
    doc="EXACT set-similarity self-join via prefix filtering (functions/"
    "dedup.py:similarity_join_prefix, the PPJoin family): doc pairs "
    "with token-set Jaccard >= 0.9, NO false negatives — the "
    "completeness-guaranteed complement of the MinHash/LSH path (x06), "
    "for contractual dedup and contamination audits where recall must "
    "be 1.0. Tokens sort by a rarest-first global order; two qualifying "
    "sets MUST share one of their |s|-ceil(t|s|)+1 prefix tokens, so "
    "candidates come from one selective equi-join (+ length filter) "
    "and the exact verify is a row-local array_intersect. The oracle "
    "is the brute-force all-shared-token join — the hash match "
    "certifies the pruning lost nothing. The synthetic corpus is "
    "heavily templated — most pairs ARE near-dups, so the TRUE answer "
    "is quadratic in the corpus by construction; the certified query "
    "therefore runs on a deterministic 1-in-20 doc subset (the x45 "
    "bounded-subset convention, pushed to the scan) and reports the "
    "top-50 — the pair set within the subset stays the exact, complete "
    "join. On a real corpus the match set is sparse and the operator "
    "runs unsubsetted.",
)
def x66(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.pmod(F.col("doc_id"), F.lit(20)) == 0
    )
    return (
        dd.similarity_join_prefix(docs, threshold=0.9)
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(50)
    )


@_q(
    "x65_quality_gate",
    """WITH checks AS (
         SELECT 'doc_id_not_null' AS check_name,
                CAST(COUNT(*) FILTER (WHERE doc_id IS NULL) AS BIGINT)
                    AS violations
         FROM documents
         UNION ALL
         SELECT 'doc_id_unique',
                CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'lang_wellformed',
                CAST(COUNT(*) FILTER (
                  WHERE lang IS NULL OR NOT regexp_matches(lang, '^[a-z]{2}$')
                ) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'n_chars_consistent',
                CAST(COUNT(*) FILTER (
                  WHERE n_chars IS NULL OR text IS NULL
                     OR n_chars <> length(text)
                ) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'source_not_null',
                CAST(COUNT(*) FILTER (
                  WHERE source IS NULL OR source = ''
                ) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'text_nonempty',
                CAST(COUNT(*) FILTER (
                  WHERE text IS NULL OR length(trim(text)) = 0
                ) AS BIGINT)
         FROM documents
         UNION ALL
         SELECT 'lineitem_orderkey_resolves',
                CAST((SELECT COUNT(*) FROM lineitem l
                      WHERE NOT EXISTS (
                        SELECT 1 FROM orders o
                        WHERE o.o_orderkey IS NOT DISTINCT FROM l.l_orderkey
                      )) AS BIGINT)
       )
       SELECT check_name, violations,
              CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
       FROM checks ORDER BY check_name""",
    doc="Declarative data-quality gate (functions/validate.py): a named "
    "constraint suite — null/unique/format/consistency checks plus "
    "lineitem→orders referential integrity — evaluated as ONE "
    "aggregation pass per table (every check is a conditional-sum "
    "aggregate fused into a single whole-stage-codegen scan; no per-"
    "check jobs). The report is itself a DataFrame with a stable "
    "schema, so gates persist per ingest batch and union across days. "
    "NULL-evaluating predicates count as violations by design (a check "
    "that cannot evaluate fails loudly).",
)
def x65(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.validate import (
        check_constraints,
        check_reference,
        unique,
        violations,
    )

    docs = load_table(spark, sf_dir, "documents")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    report = check_constraints(
        docs,
        {
            "doc_id_not_null": violations(F.col("doc_id").isNull()),
            "doc_id_unique": unique("doc_id"),
            "lang_wellformed": violations(~F.col("lang").rlike("^[a-z]{2}$")),
            "n_chars_consistent": violations(
                F.col("n_chars") != F.length(F.col("text"))
            ),
            "source_not_null": violations(
                F.col("source").isNull() | (F.col("source") == "")
            ),
            "text_nonempty": violations(F.length(F.trim(F.col("text"))) == 0),
        },
    ).unionByName(
        check_reference(
            li, orders, "l_orderkey", "o_orderkey", "lineitem_orderkey_resolves"
        )
    )
    return report.orderBy("check_name")


@_q(
    "x64_hll_set_algebra",
    r"""WITH tok AS (
         SELECT source,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       h AS (
         SELECT source, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
         FROM tok WHERE term <> ''
       ),
       br AS (
         SELECT source, h >> 48 AS bucket,
                CASE WHEN (h & 281474976710655) = 0 THEN 49
                     ELSE 48 - length(bin(h & 281474976710655)) + 1 END AS r0
         FROM h
       ),
       reg AS (SELECT source, bucket, MAX(r0) AS r FROM br
               GROUP BY source, bucket),
       pairs AS (
         SELECT a.source AS src_a, b.source AS src_b
         FROM (SELECT DISTINCT source FROM reg) a
         JOIN (SELECT DISTINCT source FROM reg) b ON a.source < b.source
       ),
       ureg AS (
         SELECT p.src_a, p.src_b, reg.bucket, MAX(reg.r) AS r
         FROM pairs p
         JOIN reg ON reg.source = p.src_a OR reg.source = p.src_b
         GROUP BY p.src_a, p.src_b, reg.bucket
       ),
       est_one AS (
         SELECT source, zeros,
                CASE WHEN est_raw <= 2.5::DOUBLE * 4096.0::DOUBLE AND zeros > 0
                     THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / zeros::DOUBLE)
                     ELSE est_raw END AS est
         FROM (
           SELECT source, 4096 - COUNT(*) AS zeros,
                  0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
                      * 4096.0::DOUBLE * 4096.0::DOUBLE
                      * 562949953421312.0::DOUBLE
                      / (CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT)
                         + (CAST(4096 AS BIGINT) - COUNT(*))
                           * CAST(562949953421312 AS BIGINT))::DOUBLE AS est_raw
           FROM reg GROUP BY source
         )
       ),
       est_u AS (
         SELECT src_a, src_b, zeros,
                CASE WHEN est_raw <= 2.5::DOUBLE * 4096.0::DOUBLE AND zeros > 0
                     THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / zeros::DOUBLE)
                     ELSE est_raw END AS est_union
         FROM (
           SELECT src_a, src_b, 4096 - COUNT(*) AS zeros,
                  0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
                      * 4096.0::DOUBLE * 4096.0::DOUBLE
                      * 562949953421312.0::DOUBLE
                      / (CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT)
                         + (CAST(4096 AS BIGINT) - COUNT(*))
                           * CAST(562949953421312 AS BIGINT))::DOUBLE AS est_raw
           FROM ureg GROUP BY src_a, src_b
         )
       )
       SELECT u.src_a, u.src_b,
              ROUND(ea.est + 0.0, 2) AS est_a,
              ROUND(eb.est + 0.0, 2) AS est_b,
              ROUND(u.est_union + 0.0, 2) AS est_union,
              ROUND(ea.est + eb.est - u.est_union + 0.0, 2) AS est_intersection
       FROM est_u u
       JOIN est_one ea ON ea.source = u.src_a
       JOIN est_one eb ON eb.source = u.src_b
       ORDER BY u.src_a, u.src_b""",
    doc="Set algebra on persisted HLL state (functions/sketch.py): for "
    "every source pair, |A|, |B|, |A∪B| from hll_merge of the two "
    "sources' register tables, and |A∩B| by inclusion–exclusion — "
    "distinct-vocabulary overlap between corpus sources WITHOUT ever "
    "joining the corpora (the registers are 4 KiB/source; the corpora "
    "are the 100 TB). This is the payoff of registers being data, not "
    "an opaque aggregate: union is a grouped max, so any lattice of "
    "sources/batches composes. The oracle rebuilds registers, merge, "
    "and both estimators in SQL.",
    bnlj_bounded=2,
)
def x64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    reg = hll_registers(toks, "term", ["source"], p=12)
    srcs = reg.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
    )
    # union registers per pair: attach each source's registers to every
    # pair it belongs to, then grouped max — hll_merge generalized to a
    # pair lattice. Two EQUI-joins (one per pair slot) instead of one
    # OR-condition join: the OR form can only plan as a nested-loop
    # (S^3 work at S sources), the equi form broadcasts the pair list
    # into two hash joins. union-all before the grouped max is exact.
    ureg = (
        pairs.join(reg, F.col("src_a") == F.col("source"))
        .select("src_a", "src_b", "bucket", "r")
        .unionByName(
            pairs.join(reg, F.col("src_b") == F.col("source")).select(
                "src_a", "src_b", "bucket", "r"
            )
        )
        .groupBy("src_a", "src_b", "bucket")
        .agg(F.max("r").alias("r"))
    )
    one = hll_estimate(reg, ["source"], p=12).select("source", "est")
    uni = hll_estimate(ureg, ["src_a", "src_b"], p=12).select(
        "src_a", "src_b", F.col("est").alias("est_union")
    )
    return (
        uni.join(one.select(F.col("source").alias("src_a"), F.col("est").alias("ea")), "src_a")
        .join(one.select(F.col("source").alias("src_b"), F.col("est").alias("eb")), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(F.col("ea") + F.lit(0.0), 2).alias("est_a"),
            F.round(F.col("eb") + F.lit(0.0), 2).alias("est_b"),
            F.round(F.col("est_union") + F.lit(0.0), 2).alias("est_union"),
            F.round(
                F.col("ea") + F.col("eb") - F.col("est_union") + F.lit(0.0), 2
            ).alias("est_intersection"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "x63_hist_quantiles",
    """WITH v AS (
         SELECT l_returnflag AS g,
                CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS x
         FROM lineitem
       ),
       b AS (
         SELECT g, x,
                CASE WHEN x < 4 THEN x
                     ELSE (length(bin(x)) << 2)
                          | ((x >> (length(bin(x)) - 3)) & 3) END AS bin_id
         FROM v
       ),
       reg AS (SELECT g, bin_id, COUNT(*) AS c FROM b GROUP BY g, bin_id),
       tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM reg GROUP BY g),
       cum AS (
         SELECT g, bin_id,
                CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin_id) AS BIGINT)
                    AS cum
         FROM reg
       ),
       qq AS (SELECT CAST(q AS DOUBLE) AS q
              FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)),
       ks AS (
         SELECT g, n, q, CAST(ceil(q * n) AS BIGINT) AS k
         FROM tot CROSS JOIN qq
       ),
       pick AS (
         SELECT ks.g, ks.q, ks.n, MIN(cum.bin_id) AS bin_id
         FROM ks JOIN cum ON cum.g = ks.g AND cum.cum >= ks.k
         GROUP BY ks.g, ks.q, ks.n
       ),
       bounds AS (
         SELECT g, q, n, bin_id,
                CASE WHEN bin_id < 4 THEN bin_id
                     ELSE (4 + (bin_id & 3))::BIGINT << ((bin_id >> 2) - 3)
                END AS sketch_lo,
                CASE WHEN bin_id < 4 THEN bin_id
                     ELSE ((4 + (bin_id & 3))::BIGINT << ((bin_id >> 2) - 3))
                          + (1::BIGINT << ((bin_id >> 2) - 3)) - 1
                END AS sketch_hi
         FROM pick
       ),
       ranked AS (
         SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn
         FROM v
       ),
       exact AS (
         SELECT ks.g, ks.q, ranked.x AS exact_cents
         FROM ks JOIN ranked ON ranked.g = ks.g AND ranked.rn = ks.k
       )
       SELECT b2.g AS l_returnflag, b2.q, b2.sketch_lo, b2.sketch_hi,
              e.exact_cents, b2.n
       FROM bounds b2 JOIN exact e ON e.g = b2.g AND e.q = b2.q
       ORDER BY l_returnflag, b2.q""",
    doc="Mergeable log-histogram quantile registers (functions/sketch."
    "py: hist_registers / hist_merge / hist_quantiles) — the quantile "
    "leg of the sketch family, and the bounded-state alternative to "
    "d43's exact per-group percentile buffers: one counter per quarter-"
    "octave bin (~4*log2(max) rows per group, ever), maintained by "
    "grouped SUM across ingest batches. Binning is exact integer "
    "arithmetic (leading-bit position + two sub-bits — no float log), "
    "so registers are partition-invariant and the oracle rebuilds the "
    "whole pipeline in SQL. The answer is the interval [sketch_lo, "
    "sketch_hi] GUARANTEED to contain the exact q-quantile — certified "
    "here by computing the exact percentile_disc value alongside "
    "(containment additionally pinned in tests).",
)
def x63(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        hist_quantiles,
        hist_registers,
    )

    qs = [0.5, 0.9, 0.99]
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("x"),
    )
    sk = hist_quantiles(hist_registers(v, "x", ["g"]), ["g"], qs).select(
        "g", "q", F.col("lo").alias("sketch_lo"), F.col("hi").alias("sketch_hi"), "n"
    )
    ranked = v.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("x"))
    )
    ks = (
        v.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_ex"))
        .select(
            "g",
            "n_ex",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"),
        )
        .withColumn("k", F.ceil(F.col("q") * F.col("n_ex")).cast("bigint"))
    )
    exact = (
        ks.join(ranked, "g")
        .where(F.col("rn") == F.col("k"))
        .select("g", "q", F.col("x").alias("exact_cents"))
    )
    return (
        sk.join(exact, ["g", "q"])
        .select(
            F.col("g").alias("l_returnflag"),
            "q",
            "sketch_lo",
            "sketch_hi",
            "exact_cents",
            "n",
        )
        .orderBy("l_returnflag", "q")
    )


@_q(
    "x62_cms_frequencies",
    r"""WITH tok AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       t AS (SELECT term FROM tok WHERE term <> ''),
       jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(j)),
       cms AS (
         SELECT j,
                ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || term),
                                1, 7))::BIGINT % 4096 AS bucket,
                COUNT(*) AS c
         FROM t CROSS JOIN jj GROUP BY j, bucket
       ),
       exact AS (SELECT term, COUNT(*) AS exact_count FROM t GROUP BY term),
       top AS (
         SELECT term, exact_count,
                ROW_NUMBER() OVER (ORDER BY exact_count DESC, term) AS rank
         FROM exact
       ),
       est AS (
         SELECT top.term, top.exact_count, top.rank,
                MIN(COALESCE(cms.c, 0)) AS est_count
         FROM top
         CROSS JOIN jj
         LEFT JOIN cms
           ON cms.j = jj.j
          AND cms.bucket = ('0x' || substr(
                md5('cms' || CAST(jj.j AS VARCHAR) || ':' || top.term),
                1, 7))::BIGINT % 4096
         WHERE top.rank <= 15
         GROUP BY top.term, top.exact_count, top.rank
       )
       SELECT term, rank, exact_count, est_count,
              est_count - exact_count AS overestimate
       FROM est ORDER BY rank""",
    doc="Count-Min sketch (functions/sketch.py: cms_build / cms_merge / "
    "cms_lookup): point-frequency estimates from a 4x4096 counter table "
    "maintained by grouped SUM — the mergeable frequency complement of "
    "x57's Misra-Gries top-k and x59's HLL distinct registers. The "
    "top-15 exact terms are probed back against the sketch; est >= "
    "exact always (collisions only add) and the overestimate column is "
    "the observed error. md5-28bit bucket hashing keeps the counter "
    "table engine-portable — the oracle rebuilds counters, probes, and "
    "min-reduction in SQL. merge == rebuild pinned in tests.",
)
def x62(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import cms_build, cms_lookup

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    cms = cms_build(t, "term", width=4096, depth=4)
    top = (
        t.groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("exact_count"), "term")),
        )
        .where(F.col("rank") <= 15)
    )
    est = cms_lookup(cms, top, "term", width=4096, depth=4)
    return est.select(
        "term",
        "rank",
        "exact_count",
        "est_count",
        (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
    ).orderBy("rank")


def _zorder_oracle_expr(cols: list[str], bits: int) -> str:
    """DuckDB bit-interleave mirroring plans/layout.zvalue exactly —
    delegates to the one shared generator (functions/layout.py)."""
    from deepcell_data_engineering_spark.functions.layout import zorder_sql

    return zorder_sql(cols, bits)


@_q(
    "x60_zorder_key",
    f"""WITH t AS (
         SELECT l_orderkey, l_linenumber,
                l_orderkey % 256 AS a, l_partkey % 256 AS b
         FROM lineitem
       )
       SELECT l_orderkey, l_linenumber, a, b,
              {_zorder_oracle_expr(['a', 'b'], 8)} AS zkey
       FROM t ORDER BY zkey, l_orderkey, l_linenumber LIMIT 100""",
    doc="Morton (Z-order) clustering key (plans/layout.py:zvalue): the "
    "bit-interleaved index behind zorder_write, the multi-dimensional "
    "file-clustering move (Delta/Iceberg OPTIMIZE ZORDER) that makes "
    "parquet min/max stats prune filters on EVERY interleaved column "
    "instead of just the leading sort key (pruning pinned in tests/"
    "test_plans.py:test_zorder_layout_tightens_both_dims). The oracle "
    "recomputes the interleave bit-for-bit in SQL, certifying the key "
    "math is engine-portable pure arithmetic — codegen'd, no UDF.",
)
def x60(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.plans import layout

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.pmod(F.col("l_orderkey"), F.lit(256)).alias("a"),
            F.pmod(F.col("l_partkey"), F.lit(256)).alias("b"),
        )
    )
    return (
        li.withColumn("zkey", layout.zvalue(["a", "b"], bits=8))
        .orderBy("zkey", "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "a", "b", "zkey")
    )


@_q(
    "x61_weighted_sample",
    """WITH u AS (
         SELECT lang, doc_id, n_chars,
                (('0x' || substr(md5('w0:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 + 1.0) / 268435456.0 AS u
         FROM documents WHERE n_chars > 0
       ),
       r AS (
         SELECT lang, doc_id, n_chars,
                ROW_NUMBER() OVER (
                  PARTITION BY lang
                  ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id
                ) AS sample_rank
         FROM u
       )
       SELECT lang, sample_rank, doc_id, n_chars
       FROM r WHERE sample_rank <= 5
       ORDER BY lang, sample_rank""",
    doc="Weighted sampling without replacement (functions/sampling.py:"
    "weighted_sample, Efraimidis–Spirakis A-ES): per language the 5 "
    "documents with the largest u^(1/n_chars) where u is a "
    "deterministic md5 uniform of the doc id — inclusion probability "
    "proportional to length, the draw a pure function of the data. "
    "Replayable by the oracle, stable under repartitioning and corpus "
    "growth (a doc keeps its fate when new data arrives — the property "
    "RNG-based sampleBy cannot give). One window, no shuffle beyond "
    "the per-stratum top-k.",
)
def x61(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    return (
        weighted_sample(docs, F.col("doc_id"), "n_chars", 5, ["lang"])
        .select("lang", "sample_rank", "doc_id", "n_chars")
        .orderBy("lang", "sample_rank")
    )


@_q(
    "x59_hll_distinct",
    r"""WITH tok AS (
         SELECT lang,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       h AS (
         SELECT lang, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h
         FROM tok WHERE term <> ''
       ),
       br AS (
         SELECT lang, h >> 48 AS bucket,
                CASE WHEN (h & 281474976710655) = 0 THEN 49
                     ELSE 48 - length(bin(h & 281474976710655)) + 1 END AS r0
         FROM h
       ),
       reg AS (SELECT lang, bucket, MAX(r0) AS r FROM br GROUP BY lang, bucket),
       agg AS (
         SELECT lang,
                CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT) AS sum_scaled,
                COUNT(*) AS present
         FROM reg GROUP BY lang
       ),
       e2 AS (
         SELECT lang, present,
                sum_scaled + (CAST(4096 AS BIGINT) - present)
                    * CAST(562949953421312 AS BIGINT) AS sum_total,
                4096 - present AS zeros
         FROM agg
       ),
       e3 AS (
         SELECT lang, zeros,
                0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
                    * 4096.0::DOUBLE * 4096.0::DOUBLE
                    * 562949953421312.0::DOUBLE
                    / sum_total::DOUBLE AS est_raw
         FROM e2
       ),
       fin AS (
         SELECT lang,
                CASE WHEN est_raw <= 2.5::DOUBLE * 4096.0::DOUBLE AND zeros > 0
                     THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / zeros::DOUBLE)
                     ELSE est_raw END AS est
         FROM e3
       ),
       ex AS (
         SELECT lang, COUNT(DISTINCT term) AS exact_distinct
         FROM tok WHERE term <> '' GROUP BY lang
       )
       SELECT f.lang,
              ROUND(f.est + 0.0, 2) AS est_distinct,
              ex.exact_distinct,
              ROUND(ABS(f.est - exact_distinct) / exact_distinct * 100 + 0.0, 2)
                  AS rel_err_pct
       FROM fin f JOIN ex USING (lang) ORDER BY f.lang""",
    doc="Mergeable HyperLogLog registers (functions/sketch.py): per-"
    "language distinct-token estimate from a PERSISTABLE (group, bucket, "
    "max-rho) register table — the incremental complement of d35's "
    "approx_count_distinct, whose sketch cannot outlive its aggregation. "
    "md5-60bit hashing makes registers engine-portable (the oracle "
    "rebuilds them in SQL and the hash check certifies bucket/rho/"
    "estimator parity); the 2^-rho sum is carried as an exact scaled "
    "integer so the estimate is partition-order independent. Exact "
    "distinct + relative error reported alongside — the estimator's own "
    "calibration row, the x45 pattern.",
)
def x59(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).where(F.col("term") != "")
    est = hll_estimate(hll_registers(toks, "term", ["lang"], p=12), ["lang"], p=12)
    exact = toks.groupBy("lang").agg(
        F.count_distinct("term").alias("exact_distinct")
    )
    return (
        est.join(exact, "lang")
        .select(
            "lang",
            F.round(F.col("est") + F.lit(0.0), 2).alias("est_distinct"),
            "exact_distinct",
            F.round(
                F.abs(F.col("est") - F.col("exact_distinct"))
                / F.col("exact_distinct")
                * 100
                + F.lit(0.0),
                2,
            ).alias("rel_err_pct"),
        )
        .orderBy("lang")
    )


@_q(
    "x58_bloom_pruned_join",
    """SELECT l_returnflag,
              COUNT(*) AS n_items,
              CAST(SUM(CAST(ROUND(l_quantity * 100, 0) AS BIGINT)) AS BIGINT)
                  AS qty_c2,
              CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT)))
                   AS BIGINT) AS rev_c4
       FROM lineitem
       JOIN orders ON l_orderkey = o_orderkey
       WHERE o_orderpriority = '1-URGENT'
       GROUP BY l_returnflag
       ORDER BY l_returnflag""",
    doc="Bloom-pruned fact⋈dim join (plans/bloom.py): the urgent-order "
    "key set becomes a broadcast bitset and lineitem rows that cannot "
    "match drop BEFORE the join's exchange — the shuffled volume is the "
    "survivors, not the fact table. False positives are removed by the "
    "exact join that follows, so the oracle is the PLAIN join: the "
    "pruning must be semantically invisible, which is exactly what the "
    "hash check certifies. Revenue/quantity carried as exact integer "
    "cents (the d49 convention) for partitioning-independent sums.",
)
def x58(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.plans.bloom import bloom_pruned_join

    li = load_table(spark, sf_dir, "lineitem")
    urgent = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    joined = bloom_pruned_join(
        li, urgent, "l_orderkey", "o_orderkey", n_bits=1 << 17, n_hashes=5
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("bigint")).alias("qty_c2"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
                * (F.lit(100) - F.round(F.col("l_discount") * 100, 0).cast("bigint"))
            ).alias("rev_c4"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "x73_bpe_encode",
    _bpe_chain(8)
    + """,
    enc AS (
      SELECT token, CAST(SUM(tf) AS BIGINT) AS freq
      FROM (SELECT tf, regexp_split_to_array(trim(seq), ' +') AS l FROM s8),
           UNNEST(l) AS t(token)
      GROUP BY token
    )
    SELECT token, freq FROM enc ORDER BY freq DESC, token LIMIT 30""",
    doc="BPE ENCODE with the learned merge table (functions/text.py:"
    "bpe_encode_vocab) — the apply half that makes x68's training "
    "output usable: train 8 merge rules, encode the corpus, return the "
    "top-30 token frequencies of the ENCODED stream. Application is n "
    "chained literal replaces over the double-space char sequence in "
    "ONE projection (whole-stage codegen, zero Python), run on the "
    "DISTINCT-word vocabulary — per-document token streams come from "
    "joining the (word -> tokens) mapping back, never from re-encoding "
    "per document; at 100 TB the encode cost is the vocab size, not "
    "the corpus size. Oracle = the same unrolled CTE chain x68 uses "
    "(shared _bpe_chain definition), read at its final state s8.",
)
def x73(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (r["lhs"], r["rhs"])
        for r in tx.bpe_train(docs, rounds=8).orderBy("round").collect()
    ]
    enc = tx.bpe_encode_vocab(docs, rules)
    return (
        enc.select(F.explode("toks").alias("token"), "tf")
        .groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(30)
    )


@_q(
    "x74_fuzzy_name_join",
    """WITH names AS (
         SELECT p_name AS name, CAST(COUNT(*) AS BIGINT) AS n
         FROM part GROUP BY p_name
       )
       SELECT a.name AS name_a, b.name AS name_b,
              CAST(levenshtein(a.name, b.name) AS INTEGER) AS dist,
              a.n AS n_a, b.n AS n_b
       FROM names a JOIN names b
         ON a.name < b.name
       WHERE levenshtein(a.name, b.name) <= 3
       ORDER BY dist, name_a, name_b""",
    doc="Entity-resolution fuzzy join (functions/dedup.py:"
    "fuzzy_name_pairs): near-duplicate part names by Levenshtein "
    "distance <= 3, candidate-paired by MULTI-PASS blocking over the "
    "FastSS ed<=1 deletion neighborhoods of the head and tail tokens "
    "(fastss1_variants — the x149 kernel lifted from vocab typo pairs "
    "to field blocking), with a |length| band prune, annotated with "
    "each name's row count. Two names are a candidate if their first "
    "tokens OR their last tokens are within one edit (shared deletion "
    "variant) — which covers every pair a 3-edit budget admits when "
    "the alignment respects the end-token boundaries: if both ends "
    "changed, at least one changed by <= 1 edit (2+2 > 3). This "
    "closes the r7-documented residual (pairs differing at BOTH ends "
    "were invisible to exact head/tail blocking); what remains out "
    "of reach is only end-token boundary RESTRUCTURING (a space edit "
    "merging/splitting an end token) combined with >= 2 edits at "
    "each end. The ORACLE is the literal quadratic vocabulary "
    "self-join — no blocking — so the hash match certifies the "
    "blocked derivation finds EVERY pair, not just the pairs the "
    "blocking can see (the x149 two-independent-algorithms pattern). "
    "The scale shape is the vocab trick again: distances evaluate "
    "over DISTINCT name strings (bounded by the entity vocabulary at "
    "any corpus size), never over row pairs — impact counts come from "
    "joining the resolved names back to the row table. Blocking keeps "
    "the pair space per-block quadratic, never all-pairs.",
)
def x74(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    # pre-aggregate once: the (name, n) vocabulary is the ONLY thing
    # the fuzzy join touches; n rides through as n_a/n_b (no re-join
    # of the row table, one scan of part total)
    counts = part.groupBy(F.col("p_name").alias("p_name")).agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = dd.fuzzy_name_pairs(
        counts,
        "p_name",
        [
            dd.fastss1_variants(
                F.split_part(F.col("p_name"), F.lit(" "), F.lit(1))
            ),
            dd.fastss1_variants(
                F.split_part(F.col("p_name"), F.lit(" "), F.lit(-1))
            ),
        ],
        3,
        carry_cols=["n"],
    )
    return pairs.select(
        "name_a", "name_b", F.col("dist").cast("int").alias("dist"),
        "n_a", "n_b",
    ).orderBy("dist", "name_a", "name_b")


@_q(
    "x77_simhash_neardup",
    r"""WITH tok AS (
         SELECT DISTINCT doc_id,
                unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
         FROM documents
       ),
       h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
       bits AS (SELECT unnest(generate_series(0, 59)) AS b),
       per_bit AS (
         SELECT doc_id, b,
                SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM h, bits GROUP BY doc_id, b
       ),
       sig AS (
         SELECT doc_id,
                CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS sh
         FROM per_bit GROUP BY doc_id
       ),
       grp AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS n FROM sig GROUP BY sh),
       bands AS (
         SELECT sh, b, (sh >> (15 * b)) & 32767 AS key
         FROM grp, UNNEST(generate_series(0, 3)) AS t(b)
       ),
       cand AS (
         SELECT DISTINCT a.sh AS sig_a, c.sh AS sig_b
         FROM bands a JOIN bands c
           ON a.b = c.b AND a.key = c.key AND a.sh < c.sh
       ),
       verified AS (
         SELECT sig_a, sig_b,
                CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
         FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 6
       ),
       crossg AS (
         SELECT v.hamming, CAST(COUNT(*) AS BIGINT) AS n_sig_pairs,
                CAST(SUM(ga.n * gb.n) AS BIGINT) AS n_doc_pairs
         FROM verified v
         JOIN grp ga ON ga.sh = v.sig_a
         JOIN grp gb ON gb.sh = v.sig_b
         GROUP BY v.hamming
       ),
       exact AS (
         SELECT CAST(0 AS INTEGER) AS hamming,
                CAST(COUNT(*) AS BIGINT) AS n_sig_pairs,
                CAST(SUM((n * (n - 1)) // 2) AS BIGINT) AS n_doc_pairs
         FROM grp WHERE n > 1
       )
       SELECT * FROM exact
       UNION ALL SELECT * FROM crossg
       ORDER BY hamming""",
    doc="SimHash near-dup DISCOVERY end-to-end (functions/dedup.py:"
    "simhash + simhash_hamming_pairs): 60-bit signatures, identical-"
    "signature groups collapse FIRST (where a templated corpus's dup "
    "mass lives — reported as the hamming=0 row), then Hamming-LSH "
    "(4 bands x 15 bits) pairs only the DISTINCT signatures and "
    "verifies bit_count(xor) <= 6. Output is the Hamming histogram "
    "with doc-pair counts computed as n_a*n_b ARITHMETIC over group "
    "sizes — the quadratic doc-pair set is never materialized, which "
    "is the property that keeps simhash dedup viable at 100 TB. "
    "Pigeonhole guarantees recall for hamming < 4; beyond that "
    "banding is best-effort (standard Hamming LSH).",
)
def x77(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sig = dd.simhash(docs, bits=60)
    grp = sig.groupBy(F.col("simhash").alias("sh")).agg(
        F.count(F.lit(1)).alias("n")
    )
    pairs = dd.simhash_hamming_pairs(grp, "sh", n_bands=4, band_bits=15, max_hamming=6)
    crossg = (
        pairs.join(
            grp.select(F.col("sh").alias("sig_a"), F.col("n").alias("n_a")), "sig_a"
        )
        .join(grp.select(F.col("sh").alias("sig_b"), F.col("n").alias("n_b")), "sig_b")
        .groupBy(F.col("hamming").cast("int").alias("hamming"))
        .agg(
            F.count(F.lit(1)).alias("n_sig_pairs"),
            F.sum(F.col("n_a") * F.col("n_b")).alias("n_doc_pairs"),
        )
    )
    exact = grp.where(F.col("n") > 1).agg(
        F.lit(0).cast("int").alias("hamming"),
        F.count(F.lit(1)).alias("n_sig_pairs"),
        F.sum(F.expr("(n * (n - 1)) div 2")).alias("n_doc_pairs"),
    )
    return exact.unionByName(crossg).orderBy("hamming")


@_q(
    "x75_sliding_distinct",
    r"""WITH du AS (
         SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
       ),
       spine AS (SELECT DISTINCT day FROM du),
       h AS (
         SELECT day,
                ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
         FROM du
       ),
       br AS (
         SELECT day, h >> 48 AS bucket,
                CASE WHEN (h & 281474976710655) = 0 THEN 49
                     ELSE 48 - length(bin(h & 281474976710655)) + 1 END AS r0
         FROM h
       ),
       reg AS (SELECT day, bucket, MAX(r0) AS r FROM br GROUP BY day, bucket),
       fan AS (
         SELECT day + CAST(i AS INTEGER) AS wend, bucket, r
         FROM reg, UNNEST(generate_series(0, 6)) AS t(i)
       ),
       wreg AS (
         SELECT wend, bucket, MAX(r) AS r
         FROM fan WHERE wend IN (SELECT day FROM spine)
         GROUP BY wend, bucket
       ),
       agg AS (
         SELECT wend,
                CAST(SUM(1::BIGINT << (49 - r)) AS BIGINT) AS sum_scaled,
                COUNT(*) AS present
         FROM wreg GROUP BY wend
       ),
       e2 AS (
         SELECT wend, present,
                sum_scaled + (CAST(4096 AS BIGINT) - present)
                    * CAST(562949953421312 AS BIGINT) AS sum_total,
                4096 - present AS zeros
         FROM agg
       ),
       e3 AS (
         SELECT wend, zeros,
                0.7213::DOUBLE / (1.0::DOUBLE + 1.079::DOUBLE / 4096.0::DOUBLE)
                    * 4096.0::DOUBLE * 4096.0::DOUBLE
                    * 562949953421312.0::DOUBLE
                    / sum_total::DOUBLE AS est_raw
         FROM e2
       ),
       est AS (
         SELECT wend,
                CASE WHEN est_raw <= 2.5::DOUBLE * 4096.0::DOUBLE AND zeros > 0
                     THEN 4096.0::DOUBLE * ln(4096.0::DOUBLE / zeros::DOUBLE)
                     ELSE est_raw END AS est
         FROM e3
       ),
       exact AS (
         SELECT wend, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
                CAST(COUNT(DISTINCT day) AS INTEGER) AS n_days
         FROM (SELECT day + CAST(i AS INTEGER) AS wend, day, user_id
               FROM du, UNNEST(generate_series(0, 6)) AS t(i))
         WHERE wend IN (SELECT day FROM spine)
         GROUP BY wend
       )
       SELECT e.wend AS wend, x.n_days AS n_days,
              ROUND(e.est + 0.0, 2) AS est_users, x.exact_users AS exact_users
       FROM est e JOIN exact x ON x.wend = e.wend
       ORDER BY wend""",
    doc="Trailing-7-day distinct users per day from DAILY HLL register "
    "state (functions/sketch.py:hll_sliding_registers) — the sliding-"
    "window rollup that makes persisted registers beat re-scanning: "
    "each day's 4 KiB register table fans out to its <= 7 window ends "
    "(bounded fan-out EQUI-join, never a range join) and merges by "
    "grouped max; the raw event log is read exactly once no matter how "
    "long the trailing window or how many days are reported. The exact "
    "trailing count_distinct runs alongside as the certification twin "
    "(same fan-out shape over the distinct (day, user) pairs).",
)
def x75(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        hll_estimate,
        hll_registers,
        hll_sliding_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    reg = hll_registers(du, "user_id", ["day"], p=12)
    wreg = hll_sliding_registers(reg, "day", window_days=7)
    est = hll_estimate(wreg, ["wend"], p=12).select(
        "wend", F.round(F.col("est") + F.lit(0.0), 2).alias("est_users")
    )
    spine = du.select("day").distinct()
    fan = du.select(
        "day",
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
    ).select(F.expr("date_add(day, i)").alias("wend"), "day", "user_id")
    exact = (
        fan.join(spine.withColumnRenamed("day", "wend"), "wend", "left_semi")
        .groupBy("wend")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.countDistinct("day").cast("int").alias("n_days"),
        )
    )
    return (
        est.join(exact, "wend")
        .select("wend", "n_days", "est_users", "exact_users")
        .orderBy("wend")
    )


def _x76_disc(expr: str, q: str) -> str:
    """Scalar percentile_disc over a feature's value histogram —
    the identical definition disc_percentile_by_histogram uses."""
    return f"""(SELECT MIN(v) FROM (
        SELECT v, SUM(c) OVER (ORDER BY v) AS cum
        FROM (SELECT {expr} AS v, COUNT(*) AS c FROM f GROUP BY 1)
      ) WHERE cum >= (SELECT CEIL({q} * COUNT(*)) FROM f))"""


@_q(
    "x76_quality_gate_corpus",
    r"""WITH f AS (
         SELECT source,
                len(regexp_split_to_array(trim(text), '\s+')) AS nt,
                ROUND(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                      / length(text), 4) AS ar,
                ROUND(length(text)
                      / len(regexp_split_to_array(trim(text), '\s+')), 4) AS atl
         FROM documents
       ),
       th AS (
         SELECT """
    + _x76_disc("ar", "0.05")
    + """ AS th_alpha, """
    + _x76_disc("atl", "0.05")
    + """ AS th_atl_lo, """
    + _x76_disc("atl", "0.95")
    + """ AS th_atl_hi
       )
       SELECT source,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN nt >= 10 AND ar >= th_alpha
                             AND atl BETWEEN th_atl_lo AND th_atl_hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              CAST(SUM(CASE WHEN nt < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_short,
              CAST(SUM(CASE WHEN ar < th_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_alpha,
              CAST(SUM(CASE WHEN atl NOT BETWEEN th_atl_lo AND th_atl_hi
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_drop_atl,
              ROUND(ANY_VALUE(th_alpha) + 0.0, 4) AS th_alpha,
              ROUND(ANY_VALUE(th_atl_lo) + 0.0, 4) AS th_atl_lo,
              ROUND(ANY_VALUE(th_atl_hi) + 0.0, 4) AS th_atl_hi
       FROM f, th GROUP BY source ORDER BY source""",
    doc="Corpus-RELATIVE quality gating (the Gopher-rule shape): pass 1 "
    "computes x02's rounded quality features; corpus-level thresholds "
    "(5th pct alpha ratio, 5th/95th pct avg token length) come from "
    "functions/stats.py:disc_percentile_by_histogram — exact "
    "percentile_disc over the feature VALUE HISTOGRAM, so the only "
    "ordered window runs over distinct feature values (bounded by "
    "rounding to 4 decimals), never a global row sort; pass 2 is one "
    "conditional-count aggregation per source with the thresholds as "
    "broadcast scalars. Per-rule drop counts are independent "
    "(overlapping), keeping the report's semantics order-free.",
)
def x76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import (
        disc_percentiles_by_histogram,
    )

    docs = load_table(spark, sf_dir, "documents")
    # pin the NARROW feature projection once (source + 3 scalars/doc —
    # doc-count-sized, the x84 pin precedent): the threshold passes and
    # the final rollup previously each re-ran the quality-feature text
    # pass over raw documents (r14: 7 recomputes -> 1 compute + 3
    # cheap aggregates over the pin)
    f = (
        tx.quality_features(docs)
        .select(
            "source",
            F.col("q_n_tokens").alias("nt"),
            F.col("q_alpha_ratio").alias("ar"),
            F.col("q_avg_token_len").alias("atl"),
        )
        .localCheckpoint()
    )
    th_alpha = float(disc_percentiles_by_histogram(f, "ar", [0.05])[0])
    th_lo, th_hi = (
        float(v)
        for v in disc_percentiles_by_histogram(f, "atl", [0.05, 0.95])
    )
    keep = (
        (F.col("nt") >= 10)
        & (F.col("ar") >= th_alpha)
        & F.col("atl").between(th_lo, th_hi)
    )
    return (
        f.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("nt") < 10, 1).otherwise(0)).alias("n_drop_short"),
            F.sum(F.when(F.col("ar") < th_alpha, 1).otherwise(0)).alias(
                "n_drop_alpha"
            ),
            F.sum(
                F.when(~F.col("atl").between(th_lo, th_hi), 1).otherwise(0)
            ).alias("n_drop_atl"),
            F.round(F.lit(th_alpha) + F.lit(0.0), 4).alias("th_alpha"),
            F.round(F.lit(th_lo) + F.lit(0.0), 4).alias("th_atl_lo"),
            F.round(F.lit(th_hi) + F.lit(0.0), 4).alias("th_atl_hi"),
        )
        .orderBy("source")
    )


def _x78_oracle(k: int = 3, peels: int = 5) -> str:
    """Unrolled k-core peels over the SAME candidate graph x06
    certifies (the x67 convention: the edge CTE is x06's oracle
    verbatim). MATERIALIZED pins every peel's edge set — each is
    referenced by the next round's degree count and filter, and
    without pinning the multi-reference chain inlines exponentially."""
    from deepcell_data_engineering_spark.relational.queries import QUERIES as _REG

    edges_sql = _REG["x06_minhash_lsh_pairs"].oracle
    parts = [
        f"""WITH e0 AS MATERIALIZED (
      SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM ({edges_sql}) WHERE id_a <> id_b)"""
    ]
    for r in range(1, peels + 1):
        parts.append(
            f""",
    d{r} AS (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM e{r - 1} UNION ALL SELECT v AS n FROM e{r - 1}
      ) GROUP BY n
    ),
    k{r} AS MATERIALIZED (SELECT n FROM d{r} WHERE d >= {k}),
    e{r} AS MATERIALIZED (
      SELECT u, v FROM e{r - 1}
      WHERE u IN (SELECT n FROM k{r}) AND v IN (SELECT n FROM k{r})
    )"""
        )
    parts.append(
        f"""
    SELECT n AS node, CAST(COUNT(*) AS BIGINT) AS degree,
           CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, n) AS INTEGER) AS rank
    FROM (SELECT u AS n FROM e{peels} UNION ALL SELECT v AS n FROM e{peels})
    GROUP BY n
    ORDER BY degree DESC, node LIMIT 20"""
    )
    return "".join(parts)


@_q(
    "x78_kcore",
    _x78_oracle(3, 5),
    doc="Bounded k-core peeling (functions/graph.py:k_core) over the "
    "LSH candidate graph — the density filter between x21's connected "
    "components (too coarse: one bridge merges blobs) and x67's "
    "triangles (too fine at scale): nodes surviving 5 rounds of "
    "drop-degree<3 are the duplicate cores worth human review. Each "
    "peel is one degree aggregation + two semi-joins with "
    "localCheckpoint lineage cuts; the fixed peel count keeps the "
    "oracle expressible as unrolled CTEs (k-means/PageRank/BPE "
    "convention), and a converged graph is a fixed point so extra "
    "peels are no-ops. Output: top-20 surviving nodes by core degree.",
)
def x78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.graph import k_core

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    core = k_core(edges, k=3, max_peels=5, src="id_a", dst="id_b")
    deg = (
        core.select(F.col("u").alias("node"))
        .unionAll(core.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("degree"), "node")).cast("int"),
        )
        .where(F.col("rank") <= 20)
        .orderBy(F.desc("degree"), "node")
    )


def _x79_branch(table: str, col: str) -> str:
    """One key column's CMS self-join-size estimate + exact twin."""
    return f"""(
      WITH jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(j)),
      cms AS (
        SELECT j,
               ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                   || CAST({col} AS VARCHAR)), 1, 7))::BIGINT
                 % 4096 AS bucket,
               COUNT(*) AS c
        FROM {table} CROSS JOIN jj GROUP BY j, bucket
      )
      SELECT '{col}' AS key_col,
             CAST((SELECT MIN(s) FROM
                    (SELECT j, SUM(c * c) AS s FROM cms GROUP BY j)) AS BIGINT)
               AS est_size,
             CAST((SELECT SUM(c * c) FROM
                    (SELECT COUNT(*) AS c FROM {table} GROUP BY {col})) AS BIGINT)
               AS exact_size
    )"""


@_q(
    "x79_join_size_estimate",
    f"""SELECT key_col, est_size, exact_size,
              est_size - exact_size AS overestimate,
              est_size >= exact_size AS sound
       FROM ({_x79_branch("lineitem", "l_partkey")}
             UNION ALL {_x79_branch("lineitem", "l_suppkey")}
             UNION ALL {_x79_branch("orders", "o_custkey")})
       ORDER BY key_col""",
    doc="Sketch-based join-cardinality estimation (functions/sketch.py:"
    "cms_inner_product): the CMS inner-product estimator bounds the "
    "equi-join size sum_k f_a(k)*f_b(k) by min over depths of the "
    "bucket-wise counter product — here the SELF-join sizes of three "
    "skewed key columns, certified in-query against the exact "
    "sum-of-squared-frequencies (soundness column: collisions only "
    "ADD, so est >= exact always). The planner primitive at 100 TB: "
    "join cost is priced from two persisted 4x4096 counter tables "
    "without scanning either input; the exact twin here is the "
    "certification, not the production path.",
)
def x79(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        cms_build,
        cms_inner_product,
    )

    frames = []
    for table, col in [
        ("lineitem", "l_partkey"),
        ("lineitem", "l_suppkey"),
        ("orders", "o_custkey"),
    ]:
        keys = load_table(spark, sf_dir, table).select(
            F.col(col).cast("string").alias("k")
        )
        # ONE scan per branch (r13): the per-key count table feeds both
        # the CMS build (count_col form — counters are bit-identical
        # sums) and the exact twin, through one reused exchange; the
        # depth-way CMS explode fans out distinct keys, not raw rows.
        counts = keys.groupBy("k").agg(F.count(F.lit(1)).alias("c"))
        cms = cms_build(counts, "k", width=4096, depth=4, count_col="c")
        est = cms_inner_product(cms, cms)
        exact = counts.agg(F.sum(F.col("c") * F.col("c")).alias("exact_size"))
        frames.append(
            est.crossJoin(exact).select(
                F.lit(col).alias("key_col"),
                F.col("est").cast("bigint").alias("est_size"),
                F.col("exact_size").cast("bigint").alias("exact_size"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out.select(
        "key_col",
        "est_size",
        "exact_size",
        (F.col("est_size") - F.col("exact_size")).alias("overestimate"),
        (F.col("est_size") >= F.col("exact_size")).alias("sound"),
    ).orderBy("key_col")


def _x80_oracle(
    m: int = 4, k: int = 8, iters: int = 2, n_queries: int = 5, topk: int = 5
) -> str:
    """PQ oracle: one _kmeans_ctes chain per subspace (on the vector
    slice), codes from the final centroids by the same assignment rule,
    per-query lookup tables, and the ADC sum carried as ROUND(dot*1e9)
    BIGINT partials so the 4-way sum is partition-order independent."""
    sub = EMB_DIM // m
    guard = (
        "CASE WHEN list_dot_product(cvec, cvec) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(cvec, cvec)) END"
    )
    ctes = ["vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"]
    enc_parts, lut_parts = [], []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(
            f"sv{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM vecs)"
        )
        ctes += _kmeans_ctes(k, sub, iters, src=f"sv{s}", prefix=f"s{s}")
        ctes.append(f"""enc{s} AS (
         SELECT vec_id, {s} AS s, centroid_id AS code FROM (
           SELECT vec_id, centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY sc DESC, centroid_id) AS r
           FROM (SELECT t.vec_id, c.centroid_id,
                        list_dot_product(t.v,
                          list_transform(c.cvec, x -> x / ({guard}))) AS sc
                 FROM sv{s} t, s{s}c{iters} c)
         ) WHERE r = 1
       )""")
        ctes.append(f"""lut{s} AS (
         SELECT q.vec_id AS qid, {s} AS s, c.centroid_id AS code,
                CAST(ROUND(list_dot_product(q.v, c.cvec) * 1e9) AS BIGINT) AS part
         FROM (SELECT vec_id, v FROM sv{s} WHERE vec_id < {n_queries}) q,
              s{s}c{iters} c
       )""")
        enc_parts.append(f"SELECT * FROM enc{s}")
        lut_parts.append(f"SELECT * FROM lut{s}")
    ctes.append("enc AS (" + " UNION ALL ".join(enc_parts) + ")")
    ctes.append("lut AS (" + " UNION ALL ".join(lut_parts) + ")")
    ctes.append("""approx AS (
         SELECT l.qid, e.vec_id, CAST(SUM(l.part) AS BIGINT) AS apx
         FROM enc e JOIN lut l ON l.s = e.s AND l.code = e.code
         WHERE e.vec_id <> l.qid
         GROUP BY l.qid, e.vec_id
       )""")
    joined = ",\n       ".join(ctes)
    return f"""WITH {joined}
       SELECT qid AS query_id, vec_id AS neighbor_id,
              CAST(rank AS INTEGER) AS rank,
              ROUND(apx / 1e9 + 0.0, 6) AS approx_score
       FROM (SELECT qid, vec_id, apx,
                    ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY apx DESC, vec_id) AS rank
             FROM approx)
       WHERE rank <= {topk} ORDER BY query_id, rank"""


def _pq_adc(spark: SparkSession, sf_dir: str, topk: int = 5) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cb = sim.pq_train(emb, m=4, n_clusters=8, iters=2)
    codes = sim.pq_encode(emb, cb)
    sub = len(cb[0][2])
    cent = local_frame(
        spark, [(s, j, v) for s, j, v in cb], "s int, code long, cvec array<double>"
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    dot = F.aggregate(
        F.zip_with(
            F.slice(F.col("embedding"), F.col("s") * sub + 1, sub),
            F.col("cvec"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = queries.crossJoin(F.broadcast(cent)).select(
        "qid", "s", "code",
        F.round(dot * F.lit(1e9)).cast("bigint").alias("part"),
    )
    approx = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("part").cast("bigint").alias("apx"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("apx"), "vec_id")
    return (
        approx.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= topk)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            "rank",
            F.round(F.col("apx") / F.lit(1e9) + F.lit(0.0), 6).alias("approx_score"),
        )
        .orderBy("query_id", "rank")
    )


@_q(
    "x80_pq_adc_topk",
    _x80_oracle(m=4, k=8, iters=2, n_queries=5),
    doc="Product quantization ANN (functions/similarity.py: pq_train / "
    "pq_encode): vectors compress to m=4 codes (4 independent kmeans "
    "codebooks on contiguous 16-dim slices, the x19 unrolled-Lloyd "
    "convention per subspace) and top-5 neighbors are answered by "
    "ASYMMETRIC DISTANCE — per-query lookup tables of "
    "query-slice x codeword dots, joined to the codes and summed. The "
    "100 TB memory story: 64 floats/vector become 4 bytes; the ADC "
    "scan touches codes + a broadcast 32-row LUT per query, never the "
    "full vectors. Partials are carried as ROUND(dot*1e9) BIGINT so "
    "the subspace sum is partition-order independent; ranking ties "
    "break on neighbor_id. Oracle = per-subspace _kmeans_ctes chains + "
    "the same encode/LUT/ADC algebra in SQL.",
    bnlj_bounded=1,
)
def x80(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_adc(spark, sf_dir, topk=5)


def _x81_oracle(shortlist: int = 50) -> str:
    """Recall of the production ANN pipeline — PQ/ADC SHORTLIST then
    exact re-rank — against brute-force exact cosine top-5. The
    shortlist side embeds x80's oracle at rank <= shortlist verbatim;
    re-ranking recomputes true cosine only on the shortlisted pairs
    (the per-query bounded join a deployed index performs)."""
    from deepcell_data_engineering_spark.relational.queries import QUERIES as _REG  # noqa: F401

    pq_sql = _x80_oracle(m=4, k=8, iters=2, n_queries=5, topk=shortlist)
    return f"""WITH pq AS ({pq_sql}),
       q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5),
       c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       rerank AS (
         SELECT query_id, neighbor_id FROM (
           SELECT pq.query_id, pq.neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY pq.query_id
                                     ORDER BY list_dot_product(q.v, c.v)
                                       / (sqrt(list_dot_product(q.v, q.v))
                                          * sqrt(list_dot_product(c.v, c.v))) DESC,
                                     pq.neighbor_id) AS rank
           FROM pq
           JOIN q ON q.vec_id = pq.query_id
           JOIN c ON c.vec_id = pq.neighbor_id
         ) WHERE rank <= 5
       ),
       exact AS (
         SELECT query_id, neighbor_id FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                     ORDER BY list_dot_product(q.v, c.v)
                                       / (sqrt(list_dot_product(q.v, q.v))
                                          * sqrt(list_dot_product(c.v, c.v))) DESC,
                                     c.vec_id) AS rank
           FROM q JOIN c ON q.vec_id != c.vec_id
         ) WHERE rank <= 5
       )
       SELECT e.query_id,
              CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hits,
              ROUND(COUNT(r.neighbor_id) / 5.0, 2) AS recall_at_5
       FROM exact e
       LEFT JOIN rerank r ON r.query_id = e.query_id
                         AND r.neighbor_id = e.neighbor_id
       GROUP BY e.query_id ORDER BY e.query_id"""


@_q(
    "x81_pq_recall",
    _x81_oracle(),
    doc="Recall@5 of the PRODUCTION ANN pipeline: PQ/ADC shortlist@50 "
    "(x80's machinery at a wider cut) then exact cosine RE-RANK of "
    "only the shortlisted pairs — the two-stage design every deployed "
    "PQ index runs, where the codes bound the candidate set and the "
    "full vectors are touched for <= 50 rows per query. Evaluated "
    "against brute-force exact top-5 (the x50 pattern); re-ranking "
    "recovers what pure ADC ranking loses to quantization. Oracle "
    "embeds x80's generated SQL at rank <= 50 plus the same re-rank/"
    "recall algebra.",
    bnlj_bounded=2,
)
def x81(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = _pq_adc(spark, sf_dir, topk=50).select(
        "query_id", "neighbor_id"
    )
    vecs = emb.select("vec_id", "embedding")
    scored = (
        shortlist.join(
            vecs.withColumnsRenamed({"vec_id": "query_id", "embedding": "vq"}),
            "query_id",
        )
        .join(
            vecs.withColumnsRenamed({"vec_id": "neighbor_id", "embedding": "vc"}),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            dd.cosine_expr(
                F.transform("vq", lambda x: x.cast("double")),
                F.transform("vc", lambda x: x.cast("double")),
            ).alias("_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("_sim"), "neighbor_id")
    rerank = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("neighbor_id").alias("pq_neighbor"))
    )
    exact = sim.cosine_topk(emb, emb.where(F.col("vec_id") < 5), k=5).select(
        "query_id", "neighbor_id"
    )
    return (
        exact.join(
            rerank,
            (rerank["query_id"] == exact["query_id"])
            & (rerank["pq_neighbor"] == exact["neighbor_id"]),
            "left",
        )
        .groupBy(exact["query_id"].alias("query_id"))
        .agg(
            F.count("pq_neighbor").alias("n_hits"),
            F.round(F.count("pq_neighbor") / F.lit(5.0), 2).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


@_q(
    "x82_sql_udf",
    """SELECT l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n_items,
              CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                   AS BIGINT) AS rev_c4,
              CAST(SUM(CASE WHEN CAST(ROUND(l_discount * 100) AS BIGINT) >= 8
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_deep_discount
       FROM lineitem
       GROUP BY l_returnflag ORDER BY l_returnflag""",
    doc="Spark 4 SQL UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr): "
    "the d49 exact-cents revenue convention packaged as a reusable "
    "scalar SQL function and a discount-band predicate UDF, both "
    "invoked from a grouped rollup. SQL UDFs inline into the plan at "
    "analysis time — the aggregation is identical whole-stage codegen "
    "to writing the expression by hand (no serde, no Python), which is "
    "exactly why they are the right abstraction boundary for shared "
    "business logic at 100 TB. Oracle = the same semantics with the "
    "expressions inlined (the x72 convention: the UDF registration is "
    "the Spark surface under test; the oracle pins the values).",
)
def x82(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION x82_rev_c4(p DOUBLE, d DOUBLE) "
        "RETURNS BIGINT "
        "RETURN CAST(ROUND(p * 100) AS BIGINT) "
        "* (100 - CAST(ROUND(d * 100) AS BIGINT))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION x82_deep_discount(d DOUBLE) "
        "RETURNS BOOLEAN RETURN CAST(ROUND(d * 100) AS BIGINT) >= 8"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("x82_lineitem")
    return spark.sql(
        """SELECT l_returnflag,
                  COUNT(*) AS n_items,
                  CAST(SUM(x82_rev_c4(l_extendedprice, l_discount)) AS BIGINT)
                    AS rev_c4,
                  SUM(CASE WHEN x82_deep_discount(l_discount) THEN 1 ELSE 0 END)
                    AS n_deep_discount
           FROM x82_lineitem
           GROUP BY l_returnflag ORDER BY l_returnflag"""
    )


@_q(
    "x83_kmv_intersections",
    r"""WITH base AS (
         SELECT source, lower(trim(text)) AS t FROM documents
       ),
       sh AS (
         SELECT source, substr(t, i, 8) AS shingle
         FROM base,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 7, 1))) AS i)
       ),
       hs AS (
         SELECT DISTINCT source,
                ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
         FROM sh
       ),
       rk AS (
         SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
         FROM hs
       ),
       reg AS (SELECT source, h FROM rk WHERE rnk <= 256),
       th AS (
         SELECT source, n_state,
                CASE WHEN n_state >= 256 THEN hmax
                     ELSE 1152921504606846976 END AS theta
         FROM (SELECT source, COUNT(*) AS n_state, MAX(h) AS hmax
               FROM reg GROUP BY source)
       ),
       est1 AS (
         SELECT source,
                CASE WHEN n_state < 256 THEN n_state::DOUBLE
                     ELSE 255.0::DOUBLE * 1152921504606846976.0::DOUBLE
                          / theta::DOUBLE END AS est
         FROM th
       ),
       pairs AS (
         SELECT a.source AS src_a, b.source AS src_b,
                LEAST(a.theta, b.theta) AS theta_ab
         FROM th a JOIN th b ON a.source < b.source
       ),
       com AS (
         SELECT ra.source AS src_a, rb.source AS src_b, COUNT(*) AS common
         FROM reg ra
         JOIN reg rb ON ra.h = rb.h AND ra.source < rb.source
         JOIN pairs p ON p.src_a = ra.source AND p.src_b = rb.source
         WHERE ra.h < p.theta_ab
         GROUP BY ra.source, rb.source
       ),
       ds AS (SELECT DISTINCT source, shingle FROM sh),
       ex AS (
         SELECT a.source AS src_a, b.source AS src_b,
                COUNT(*) AS exact_inter
         FROM ds a JOIN ds b ON a.shingle = b.shingle AND a.source < b.source
         GROUP BY a.source, b.source
       )
       SELECT p.src_a, p.src_b,
              ROUND(ea.est + 0.0, 2) AS est_a,
              ROUND(eb.est + 0.0, 2) AS est_b,
              COALESCE(c.common, 0)::BIGINT AS common,
              p.theta_ab,
              ROUND(COALESCE(c.common, 0)::DOUBLE
                    * 1152921504606846976.0::DOUBLE
                    / p.theta_ab::DOUBLE + 0.0, 2) AS est_inter,
              COALESCE(ex.exact_inter, 0)::BIGINT AS exact_inter
       FROM pairs p
       JOIN est1 ea ON ea.source = p.src_a
       JOIN est1 eb ON eb.source = p.src_b
       LEFT JOIN com c ON c.src_a = p.src_a AND c.src_b = p.src_b
       LEFT JOIN ex ON ex.src_a = p.src_a AND ex.src_b = p.src_b
       ORDER BY p.src_a, p.src_b""",
    doc="KMV / theta-sketch set intersections (functions/sketch.py:"
    "kmv_registers): per source, the 256 smallest distinct md5-60bit "
    "hashes of char 8-gram shingles — deterministic bounded state the "
    "oracle rebuilds bit-for-bit — then DIRECT pairwise intersection "
    "estimates (shared hashes below theta_ab = min(theta_a, theta_b), "
    "scaled back by 2^60 / theta_ab). The capability HLL registers "
    "(x64) lack: inclusion-exclusion error scales with |A∪B|, the KMV "
    "sample error with |A∩B| itself. exact_inter is the certification "
    "twin (the full shingle-set join the sketch avoids at 100 TB); the "
    "distinct-on-(source, hash) pass is the only full-data scan; the "
    "k-smallest rank is a bare row_number()<=k that Spark rewrites to "
    "WindowGroupLimit (partial per-partition top-k before the final "
    "per-source sort — never a full per-group sort). kmv_registers "
    "also offers prefilter=True, an approx_count_distinct-thresholded "
    "pre-cut (~8k/nd of the hash space) with an exact cut-below-k "
    "rescue: OFF here because its 2 extra corpus scans only pay off "
    "on persisted hashed columns (measured 3x slower on this shape).",
    bnlj_bounded=2,
)
def x83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        kmv_estimate,
        kmv_intersect_pairs,
        kmv_registers,
    )

    k = 256
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("source", F.lower(F.trim(F.col("text"))).alias("t"))
    sh = base.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 7, 1)),"
                " i -> substring(t, i, 8))"
            )
        ).alias("shingle"),
    )
    # ONE corpus pass: the distinct (source, shingle) set feeds BOTH the
    # sketch build and the exact certification twin; localCheckpoint
    # cuts the lineage so the explode+distinct isn't recomputed per
    # consumer (the twin is test-scale certification — production keeps
    # only the registers and never materializes the distinct set)
    ds = sh.distinct().localCheckpoint()
    # registers are k rows/source — checkpointing the sketch itself
    # means estimate/intersect/join consumers reuse it instead of
    # re-deriving the rank three times (the x21/x44 driver-state
    # convention for tiny intermediates)
    reg = kmv_registers(ds, "shingle", ["source"], k=k).localCheckpoint()
    one = kmv_estimate(reg, ["source"], k=k).select("source", "est")
    inter = kmv_intersect_pairs(reg, "source", k=k).select(
        F.col("g_a").alias("src_a"),
        F.col("g_b").alias("src_b"),
        "common",
        "theta_ab",
        "est_inter",
    )
    # exact twin WITHOUT a shingle self-join: group each shingle's
    # source set once, generate its ordered source pairs in-row (<= S^2
    # structs per shingle, S = #sources — codegen, no second shuffle),
    # then count per pair. Same values as the oracle's equi-join
    # formulation; the self-join shape re-shuffles the full pair stream
    # where this reuses the one groupBy(shingle) exchange.
    ex = (
        ds.groupBy("shingle")
        .agg(F.collect_set("source").alias("ss"))
        .select(
            F.explode(
                F.expr(
                    "filter(flatten(transform(ss, a -> transform(ss,"
                    " b -> struct(a AS src_a, b AS src_b)))),"
                    " p -> p.src_a < p.src_b)"
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    return (
        inter.join(
            one.select(F.col("source").alias("src_a"), F.col("est").alias("ea")),
            "src_a",
        )
        .join(
            one.select(F.col("source").alias("src_b"), F.col("est").alias("eb")),
            "src_b",
        )
        .join(ex, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.round(F.col("ea") + F.lit(0.0), 2).alias("est_a"),
            F.round(F.col("eb") + F.lit(0.0), 2).alias("est_b"),
            "common",
            "theta_ab",
            F.round(F.col("est_inter") + F.lit(0.0), 2).alias("est_inter"),
            F.coalesce(F.col("exact_inter"), F.lit(0))
            .cast("bigint")
            .alias("exact_inter"),
        )
        .orderBy("src_a", "src_b")
    )


_X84_ORACLE = (
    _MINHASH_CHUNKS.replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
       sig AS (
         SELECT doc_id,
              {_minhash_oracle_terms(6)}
         FROM chunks GROUP BY doc_id
       ),
       banded AS (
         SELECT doc_id,
                md5(h0::VARCHAR || '-' || h1::VARCHAR || '-' || h2::VARCHAR) AS band
         FROM sig
         UNION ALL
         SELECT doc_id,
                md5(h3::VARCHAR || '-' || h4::VARCHAR || '-' || h5::VARCHAR) AS band
         FROM sig
       ),
       pairs AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
       ),
       und AS (SELECT id_a AS u, id_b AS v FROM pairs
               UNION SELECT id_b, id_a FROM pairs),
       reach(a, b) AS (
         SELECT u, v FROM und
         UNION
         SELECT r.a, e.v FROM reach r JOIN und e ON r.b = e.u
       ),
       comp AS (
         SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
       ),
       labeled AS (
         SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_id
         FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
       ),
       assign AS (
         SELECT doc_id, cluster_id,
                CASE WHEN ('0x' || substr(md5('s0:' || doc_id::VARCHAR), 1, 7))::BIGINT
                          % 10 = 0
                     THEN 'val' ELSE 'train' END AS split_naive,
                CASE WHEN ('0x' || substr(md5('s0:' || cluster_id::VARCHAR), 1, 7))::BIGINT
                          % 10 = 0
                     THEN 'val' ELSE 'train' END AS split_aware
         FROM labeled
       ),
       leak AS (
         SELECT
           CAST(COUNT(*) FILTER (WHERE a.split_naive <> b.split_naive) AS BIGINT)
             AS leak_naive,
           CAST(COUNT(*) FILTER (WHERE a.split_aware <> b.split_aware) AS BIGINT)
             AS leak_aware
         FROM pairs p
         JOIN assign a ON a.doc_id = p.id_a
         JOIN assign b ON b.doc_id = p.id_b
       ),
       sizes AS (
         SELECT split,
                CAST(SUM(n_naive) AS BIGINT) AS n_docs_naive,
                CAST(SUM(n_aware) AS BIGINT) AS n_docs_aware
         FROM (
           SELECT split_naive AS split, 1 AS n_naive, 0 AS n_aware FROM assign
           UNION ALL
           SELECT split_aware, 0, 1 FROM assign
         ) GROUP BY split
       )
       SELECT s.split, s.n_docs_naive, s.n_docs_aware,
              l.leak_naive, l.leak_aware
       FROM sizes s CROSS JOIN leak l
       ORDER BY s.split"""
)


@_q(
    "x84_split_leakage",
    _X84_ORACLE,
    doc="Train/val split-leakage audit (functions/sampling.py:"
    "deterministic_split): assign splits two ways — naively by doc_id "
    "hash, and cluster-aware by the x21 connected-component id — then "
    "count LSH candidate pairs (x06) whose endpoints land in different "
    "splits. Naive splitting leaks near-duplicates of training docs "
    "into the held-out set (leak_naive > 0: eval contamination that "
    "inflates benchmark scores); keying the SAME hash split by "
    "cluster_id is leakage-free BY CONSTRUCTION (every candidate pair "
    "is intra-component, so leak_aware = 0 — the query certifies it). "
    "Cost on top of x21 is one map for the assignment and one "
    "sketch-sized join of the candidate pairs against it.",
)
def x84(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import graph as gr
    from deepcell_data_engineering_spark.functions.sampling import (
        deterministic_split,
    )

    docs = load_table(spark, sf_dir, "documents")
    # (r13) pin the signatures: they feed TWO independent jobs — the CC
    # loop's star edges (materialized inside its first checkpoint) and
    # the leak join's candidate pairs — so without the pin the
    # shingle-explode + minhash aggregation (the only fact-scale pass
    # here) runs twice. Signatures are one tiny row per doc (6 longs),
    # so the pin is block-manager-safe at any scale.
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5).localCheckpoint()
    bands = [["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    edges = dd.lsh_band_star_edges(sigs, bands=bands)
    pairs = dd.lsh_candidate_pairs(sigs, bands=bands)
    assign = deterministic_split(
        deterministic_split(
            gr.dup_clusters(docs, edges).select("doc_id", "cluster_id"),
            "doc_id",
            split_col="split_naive",
        ),
        "cluster_id",
        split_col="split_aware",
    )
    leak = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("id_a"),
                F.col("split_naive").alias("na"),
                F.col("split_aware").alias("aa"),
            ),
            "id_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("id_b"),
                F.col("split_naive").alias("nb"),
                F.col("split_aware").alias("ab"),
            ),
            "id_b",
        )
        .agg(
            # coalesce: zero candidate pairs must report 0, not a NULL
            # sum (the oracle's COUNT(*) FILTER is 0 on empty input)
            F.coalesce(
                F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("leak_naive"),
            F.coalesce(
                F.sum(F.when(F.col("aa") != F.col("ab"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("leak_aware"),
        )
    )
    sizes = (
        assign.select(
            F.col("split_naive").alias("split"),
            F.lit(1).alias("n_naive"),
            F.lit(0).alias("n_aware"),
        )
        .unionByName(
            assign.select(
                F.col("split_aware").alias("split"),
                F.lit(0).alias("n_naive"),
                F.lit(1).alias("n_aware"),
            )
        )
        .groupBy("split")
        .agg(
            F.sum("n_naive").cast("bigint").alias("n_docs_naive"),
            F.sum("n_aware").cast("bigint").alias("n_docs_aware"),
        )
    )
    return sizes.crossJoin(F.broadcast(leak)).orderBy("split")


def _x85_cte(name: str, src: str, key: str, label: str) -> str:
    """One skew-report branch: grouped key counts, the disc percentiles
    over the histogram of count VALUES (the key_skew_report plan,
    rebuilt in SQL), and the integer ceil-div salt recommendation."""
    return f"""
       {name}_cnt AS (
         SELECT {key} AS k, COUNT(*) AS c FROM {src}
         WHERE {key} IS NOT NULL GROUP BY 1
       ),
       {name}_agg AS (
         SELECT CAST(SUM(c) AS BIGINT) AS n_rows,
                CAST(COUNT(*) AS BIGINT) AS n_keys,
                CAST(MAX(c) AS BIGINT) AS top1_count
         FROM {name}_cnt
       ),
       {name}_hist AS (SELECT c AS v, COUNT(*) AS f FROM {name}_cnt GROUP BY c),
       {name}_cum AS (
         SELECT v, SUM(f) OVER (ORDER BY v) AS cum FROM {name}_hist
       ),
       {name}_pq AS (
         SELECT CAST(MIN(CASE WHEN cum >= CEIL(0.5::DOUBLE * a.n_keys)
                              THEN v END) AS BIGINT) AS p50_count,
                CAST(MIN(CASE WHEN cum >= CEIL(0.99::DOUBLE * a.n_keys)
                              THEN v END) AS BIGINT) AS p99_count
         FROM {name}_cum CROSS JOIN {name}_agg a
       ),
       {name}_row AS (
         SELECT '{label}' AS key_col, a.n_rows, a.n_keys,
                ROUND(a.n_rows::DOUBLE / a.n_keys::DOUBLE + 0.0, 2) AS avg_count,
                p.p50_count, p.p99_count, a.top1_count,
                ROUND(a.top1_count::DOUBLE / a.n_rows::DOUBLE + 0.0, 4)
                  AS top1_share,
                CAST(GREATEST(1, LEAST(64,
                  (a.top1_count * 32 + a.n_rows - 1) // a.n_rows))
                  AS BIGINT) AS recommended_salts
         FROM {name}_agg a CROSS JOIN {name}_pq p
       )"""


_X85_ORACLE = (
    r"""WITH tok AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       tokf AS (SELECT term FROM tok WHERE term <> ''),"""
    + ",".join(
        [
            _x85_cte("t", "tokf", "term", "documents.term"),
            _x85_cte("e", "events", "user_id", "events.user_id"),
            _x85_cte("l", "lineitem", "l_suppkey", "lineitem.l_suppkey"),
            _x85_cte("o", "orders", "o_custkey", "orders.o_custkey"),
        ]
    )
    + """
       SELECT * FROM (
         SELECT * FROM t_row UNION ALL SELECT * FROM e_row
         UNION ALL SELECT * FROM l_row UNION ALL SELECT * FROM o_row
       ) ORDER BY key_col"""
)


@_q(
    "x85_skew_report",
    _X85_ORACLE,
    doc="Shuffle-key skew diagnostics (functions/stats.py:"
    "key_skew_report): for each prospective join/groupBy key, the key-"
    "count distribution (n_keys, avg/p50/p99/top1 counts, top1_share) "
    "and an integer salt recommendation — ceil(top1_count / (n_rows / "
    "32)) clamped to [1, 64] — the planning input x39's salted join "
    "consumes. Disc percentiles run over the histogram of count "
    "VALUES (distinct per-key counts), so the only ordered window is "
    "sketch-sized at any corpus scale; everything else is two grouped "
    "aggregations per key. The token key's Zipf head (top1_share ~ "
    "1/vocab on this corpus) vs the uniform synthetic user/customer "
    "keys shows the report separating salt-worthy keys from safe ones.",
)
def x85(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import key_skew_report

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    ev = load_table(spark, sf_dir, "events").select("user_id")
    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    od = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        key_skew_report(tok, "term", "documents.term")
        .unionByName(key_skew_report(ev, "user_id", "events.user_id"))
        .unionByName(key_skew_report(li, "l_suppkey", "lineitem.l_suppkey"))
        .unionByName(key_skew_report(od, "o_custkey", "orders.o_custkey"))
        .orderBy("key_col")
    )


def _x86_branch(label: str, ta: str, ka: str, tb: str, kb: str) -> str:
    """One candidate first-join: CMS cross-inner-product estimate of
    |ta JOIN tb ON ka = kb| plus the exact twin."""
    return f"""(
      WITH jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(j)),
      ca AS (
        SELECT j,
               ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                   || CAST({ka} AS VARCHAR)), 1, 7))::BIGINT
                 % 4096 AS bucket,
               COUNT(*) AS c
        FROM {ta} CROSS JOIN jj GROUP BY j, bucket
      ),
      cb AS (
        SELECT j,
               ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                   || CAST({kb} AS VARCHAR)), 1, 7))::BIGINT
                 % 4096 AS bucket,
               COUNT(*) AS c
        FROM {tb} CROSS JOIN jj GROUP BY j, bucket
      ),
      est AS (
        SELECT MIN(s) AS e FROM (
          SELECT ca.j, SUM(ca.c * cb.c) AS s
          FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
          GROUP BY ca.j
        )
      ),
      ex AS (
        SELECT SUM(a.c * b.c) AS x
        FROM (SELECT {ka} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) a
        JOIN (SELECT {kb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) b
          ON a.k = b.k
      )
      SELECT '{label}' AS first_join,
             CAST(est.e AS BIGINT) AS est_rows,
             CAST(COALESCE(ex.x, 0) AS BIGINT) AS exact_rows
      FROM est CROSS JOIN ex
    )"""


@_q(
    "x86_join_order_plan",
    f"""SELECT first_join, est_rows, exact_rows,
              est_rows >= exact_rows AS sound,
              est_rows = MIN(est_rows) OVER () AS picked
       FROM ({_x86_branch("lineitem*orders", "lineitem", "l_orderkey",
                          "orders", "o_orderkey")}
             UNION ALL
             {_x86_branch("orders*customer", "orders", "o_custkey",
                          "customer", "c_custkey")})
       ORDER BY first_join""",
    doc="Sketch-driven join ORDERING (the step above x79's single-join "
    "pricing): for the customer-orders-lineitem chain, price both "
    "legal first joins from persisted per-(table, key) CMS counter "
    "tables — cross inner product sum_k f_a(k)*f_b(k), min over "
    "depths — and pick the smaller intermediate, certified in-query "
    "against the exact join sizes (soundness: collisions only ADD, "
    "so est >= exact and the pick can only err between candidates "
    "whose true sizes are within the collision noise). The cost-"
    "based-optimizer primitive at 100 TB: join order from 4x4096 "
    "counters per input, no data scanned at planning time.",
)
def x86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        cms_build,
        cms_inner_product,
    )

    frames = []
    for label, (ta, ka), (tb, kb) in [
        ("lineitem*orders", ("lineitem", "l_orderkey"), ("orders", "o_orderkey")),
        ("orders*customer", ("orders", "o_custkey"), ("customer", "c_custkey")),
    ]:
        keys_a = load_table(spark, sf_dir, ta).select(
            F.col(ka).cast("string").alias("k")
        )
        keys_b = load_table(spark, sf_dir, tb).select(
            F.col(kb).cast("string").alias("k")
        )
        # ONE scan per (table, key) (r13): per-key counts feed both the
        # CMS build (count_col form — bit-identical counters) and the
        # exact join-size twin via one reused exchange per side.
        counts_a = keys_a.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
        counts_b = keys_b.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
        est = cms_inner_product(
            cms_build(counts_a, "k", width=4096, depth=4, count_col="ca"),
            cms_build(counts_b, "k", width=4096, depth=4, count_col="cb"),
        )
        exact = (
            counts_a.join(counts_b, "k")
            .agg(
                F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
                .cast("bigint")
                .alias("exact_rows")
            )
        )
        frames.append(
            est.crossJoin(exact).select(
                F.lit(label).alias("first_join"),
                F.col("est").cast("bigint").alias("est_rows"),
                "exact_rows",
            )
        )
    out = frames[0].unionByName(frames[1])
    return out.select(
        "first_join",
        "est_rows",
        "exact_rows",
        (F.col("est_rows") >= F.col("exact_rows")).alias("sound"),
        (
            F.col("est_rows")
            == F.min("est_rows").over(Window.partitionBy())
        ).alias("picked"),
    ).orderBy("first_join")


_X87_KINDS = {
    "orders": [
        ("o_orderkey", "int"), ("o_custkey", "int"),
        ("o_orderstatus", "str"), ("o_totalprice", "dbl"),
        ("o_orderdate", "ts"), ("o_orderpriority", "str"),
    ],
    "documents": [
        ("doc_id", "int"), ("text", "str"), ("lang", "str"),
        ("source", "str"), ("n_chars", "int"),
    ],
}


def _x87_table_sql(table: str, kinds: list[tuple[str, str]]) -> tuple[str, str]:
    """(agg CTE, union branches) for one table's single-pass profile."""
    aggs = ["COUNT(*) AS n"]
    rows = []
    for c, kd in kinds:
        aggs.append(f"COUNT({c}) AS cnt_{c}")
        aggs.append(f"COUNT(DISTINCT {c}) AS ndv_{c}")
        if kd in ("int", "str"):
            aggs.append(f"CAST(MIN({c}) AS VARCHAR) AS min_{c}")
            aggs.append(f"CAST(MAX({c}) AS VARCHAR) AS max_{c}")
        elif kd == "ts":
            aggs.append(f"CAST(CAST(MIN({c}) AS DATE) AS VARCHAR) AS min_{c}")
            aggs.append(f"CAST(CAST(MAX({c}) AS DATE) AS VARCHAR) AS max_{c}")
        if kd == "str":
            aggs.append(f"AVG(LENGTH({c})) AS len_{c}")
        min_e = f"min_{c}" if kd != "dbl" else "CAST(NULL AS VARCHAR)"
        max_e = f"max_{c}" if kd != "dbl" else "CAST(NULL AS VARCHAR)"
        len_e = (
            f"ROUND(len_{c} + 0.0, 2)" if kd == "str" else "CAST(NULL AS DOUBLE)"
        )
        rows.append(
            f"""SELECT '{table}.{c}' AS col_name,
                  CAST(n AS BIGINT) AS n_rows,
                  CAST(n - cnt_{c} AS BIGINT) AS n_null,
                  ROUND((n - cnt_{c})::DOUBLE / n::DOUBLE + 0.0, 4) AS null_frac,
                  CAST(ndv_{c} AS BIGINT) AS ndv,
                  {min_e} AS min_str, {max_e} AS max_str,
                  {len_e} AS avg_len
           FROM {table}_p"""
        )
    cte = f"{table}_p AS (SELECT {', '.join(aggs)} FROM {table})"
    return cte, " UNION ALL ".join(rows)


_X87_PARTS = [
    _x87_table_sql(t, ks) for t, ks in _X87_KINDS.items()
]


@_q(
    "x87_table_profile",
    "WITH "
    + ", ".join(cte for cte, _ in _X87_PARTS)
    + " SELECT * FROM ("
    + " UNION ALL ".join(rows for _, rows in _X87_PARTS)
    + ") ORDER BY col_name",
    doc="ANALYZE-style table profiling (functions/stats.py:"
    "table_profile): per column — row/null counts, null fraction, "
    "exact NDV, engine-canonical min/max strings (integers, strings, "
    "timestamps truncated to DATE; doubles profile counts only — "
    "their string form is formatter-dependent), and avg string "
    "length. ONE scan + ONE aggregation per table (the multiple "
    "COUNT(DISTINCT)s resolve through Spark's Expand in the same "
    "pass), then a 1-row stack() pivots wide aggregates into the "
    "long report — never the naive per-column UNION that rescans "
    "the table once per column. These are the statistics the x86 "
    "join-order planner and the catalog's CBO consume.",
)
def x87(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import table_profile

    parts = []
    for table, kinds in _X87_KINDS.items():
        prof = table_profile(
            load_table(spark, sf_dir, table), dict(kinds)
        ).select(
            F.concat(F.lit(table + "."), F.col("col_name")).alias("col_name"),
            "n_rows",
            "n_null",
            "null_frac",
            "ndv",
            "min_str",
            "max_str",
            "avg_len",
        )
        parts.append(prof)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("col_name")


@_q(
    "x88_kmv_incremental",
    r"""WITH base AS (
         SELECT source, lower(trim(text)) AS t FROM documents
       ),
       sh AS (
         SELECT source, substr(t, i, 8) AS shingle
         FROM base,
              LATERAL (SELECT unnest(generate_series(1, greatest(length(t) - 7, 1))) AS i)
       ),
       hs AS (
         SELECT DISTINCT source,
                ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
         FROM sh
       ),
       rk AS (
         SELECT source, h,
                row_number() OVER (PARTITION BY source ORDER BY h) AS rnk
         FROM hs
       ),
       reg AS (SELECT source, h FROM rk WHERE rnk <= 128),
       th AS (
         SELECT source, n_state,
                CASE WHEN n_state >= 128 THEN hmax
                     ELSE 1152921504606846976 END AS theta
         FROM (SELECT source, COUNT(*) AS n_state, MAX(h) AS hmax
               FROM reg GROUP BY source)
       )
       SELECT source, n_state, theta,
              ROUND(CASE WHEN n_state < 128 THEN n_state::DOUBLE
                         ELSE 127.0::DOUBLE * 1152921504606846976.0::DOUBLE
                              / theta::DOUBLE END + 0.0, 2) AS est
       FROM th ORDER BY source""",
    doc="Incremental KMV maintenance certified THROUGH the oracle "
    "gate: the engine builds per-source states from two disjoint "
    "corpus halves (doc_id parity — yesterday's batch and today's) "
    "and answers ONLY from kmv_merge of the persisted halves, while "
    "the oracle rebuilds the sketch from the full corpus in one shot. "
    "The hash match IS the merge==rebuild identity (min-k is "
    "idempotent/associative/commutative), driver-checked rather than "
    "only unit-tested — the property that lets 100 TB dedup state "
    "update per ingest batch without rescanning history (the x53 band-"
    "index story, for distinct-count/intersection state).",
)
def x88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_registers,
    )

    k = 128
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.lower(F.trim(F.col("text"))).alias("t")
    )
    sh = base.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, greatest(length(t) - 7, 1)),"
                " i -> substring(t, i, 8))"
            )
        ).alias("shingle"),
    )
    reg_a = kmv_registers(
        sh.where(F.col("doc_id") % 2 == 0), "shingle", ["source"], k=k
    )
    reg_b = kmv_registers(
        sh.where(F.col("doc_id") % 2 == 1), "shingle", ["source"], k=k
    )
    merged = kmv_merge(reg_a, reg_b, ["source"], k=k)
    return (
        kmv_estimate(merged, ["source"], k=k)
        .select(
            "source",
            "n_state",
            "theta",
            F.round(F.col("est") + F.lit(0.0), 2).alias("est"),
        )
        .orderBy("source")
    )


@_q(
    "x89_retention_cohorts",
    """WITH f AS (
         SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
         FROM events GROUP BY user_id
       ),
       act AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
       ),
       sz AS (
         SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_size
         FROM f GROUP BY cohort_day
       ),
       r AS (
         SELECT f.cohort_day,
                CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT)
                  AS offset_days,
                CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS retained
         FROM act a JOIN f USING (user_id)
         GROUP BY 1, 2
       )
       SELECT CAST(r.cohort_day AS VARCHAR) AS cohort_day,
              r.offset_days, s.cohort_size, r.retained,
              ROUND(r.retained::DOUBLE / s.cohort_size::DOUBLE + 0.0, 4)
                AS retention
       FROM r JOIN sz s ON s.cohort_day = r.cohort_day
       ORDER BY cohort_day, offset_days""",
    doc="Retention cohort matrix — the product-analytics staple "
    "alongside x37's funnel and x17's sessions: users cohorted by "
    "first-seen day, retention = distinct active users at each day "
    "offset over the cohort size. Plan: one user-keyed aggregation "
    "for first-seen, one distinct on (user, day), a user-keyed "
    "equi-join (both sides already hash-partitioned on user_id — "
    "the exchange is reused, not repeated), then a grouped distinct "
    "count; the cohort-size attach is a broadcast of day-cardinality "
    "rows. Offsets carried as exact integer day diffs, rates rounded "
    "with the +0.0 convention.",
)
def x89(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    f = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    act = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    r = (
        act.join(f, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day"))
            .cast("bigint")
            .alias("offset_days"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("retained"))
    )
    sz = f.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        r.join(F.broadcast(sz), "cohort_day")
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "offset_days",
            "cohort_size",
            "retained",
            F.round(
                F.col("retained").cast("double")
                / F.col("cohort_size").cast("double")
                + F.lit(0.0),
                4,
            ).alias("retention"),
        )
        .orderBy("cohort_day", "offset_days")
    )


def _x90_branch(label: str, ta: str, ka: str, tb: str, kb: str) -> str:
    """One candidate first-join priced by BOTH estimators + exact."""
    return f"""(
      WITH jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(j)),
      ca AS (
        SELECT j,
               ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                   || CAST({ka} AS VARCHAR)), 1, 7))::BIGINT
                 % 4096 AS bucket,
               COUNT(*) AS c
        FROM {ta} CROSS JOIN jj GROUP BY j, bucket
      ),
      cb AS (
        SELECT j,
               ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                   || CAST({kb} AS VARCHAR)), 1, 7))::BIGINT
                 % 4096 AS bucket,
               COUNT(*) AS c
        FROM {tb} CROSS JOIN jj GROUP BY j, bucket
      ),
      est AS (
        SELECT MIN(s) AS e FROM (
          SELECT ca.j, SUM(ca.c * cb.c) AS s
          FROM ca JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket
          GROUP BY ca.j
        )
      ),
      sa AS (SELECT COUNT(*) AS n, COUNT(DISTINCT {ka}) AS ndv FROM {ta}),
      sb AS (SELECT COUNT(*) AS n, COUNT(DISTINCT {kb}) AS ndv FROM {tb}),
      ex AS (
        SELECT SUM(a.c * b.c) AS x
        FROM (SELECT {ka} AS k, COUNT(*) AS c FROM {ta} GROUP BY 1) a
        JOIN (SELECT {kb} AS k, COUNT(*) AS c FROM {tb} GROUP BY 1) b
          ON a.k = b.k
      )
      SELECT '{label}' AS first_join,
             CAST(est.e AS BIGINT) AS est_cms,
             CAST((sa.n * sb.n) // GREATEST(sa.ndv, sb.ndv) AS BIGINT)
               AS est_stats,
             CAST(COALESCE(ex.x, 0) AS BIGINT) AS exact_rows
      FROM est CROSS JOIN sa CROSS JOIN sb CROSS JOIN ex
    )"""


@_q(
    "x90_cbo_estimates",
    f"""SELECT first_join, est_cms, est_stats, exact_rows,
              est_cms >= exact_rows AS cms_sound,
              est_cms = MIN(est_cms) OVER () AS cms_pick,
              est_stats = MIN(est_stats) OVER () AS stats_pick,
              exact_rows = MIN(exact_rows) OVER () AS truly_smaller
       FROM ({_x90_branch("lineitem*orders", "lineitem", "l_orderkey",
                          "orders", "o_orderkey")}
             UNION ALL
             {_x90_branch("orders*customer", "orders", "o_custkey",
                          "customer", "c_custkey")})
       ORDER BY first_join""",
    doc="CBO loop CLOSED end-to-end: the x86 join-order pick derived "
    "from TWO independent estimators and certified against exact in "
    "one query. Estimator 1 = the persisted CMS cross inner product "
    "(x86's pricing; sound — collisions only ADD, est_cms >= exact "
    "certified per branch). Estimator 2 = the classic System R "
    "|A JOIN B| ~ |A|*|B| / max(ndv_A, ndv_B) from x87-style profile "
    "statistics (row count + NDV per key — the stats tier composing; "
    "exact under the containment assumption that the smaller key set "
    "is contained in the larger, TPC-H's FK shape, but NOT sound in "
    "general). Per candidate: both estimates, exact, soundness, and "
    "each estimator's pick vs the true smaller intermediate — a "
    "planner cross-checking two estimators before committing a join "
    "order, the way a real CBO consumes ANALYZE stats at 100 TB "
    "(4x4096 counters + 2 scalars per input; nothing scanned at "
    "planning time).",
)
def x90(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        cms_build,
        cms_inner_product,
    )
    from deepcell_data_engineering_spark.functions.stats import table_profile

    li = load_table(spark, sf_dir, "lineitem")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    # profile stats: ONE scan per table; orders' two keys share a pass.
    # The 4-row profile is driver planner state (the x85/x86 pricing
    # convention: statistics are k-row, the data is not re-scanned).
    prof = (
        table_profile(li, {"l_orderkey": "int"})
        .unionByName(table_profile(od, {"o_orderkey": "int", "o_custkey": "int"}))
        .unionByName(table_profile(cu, {"c_custkey": "int"}))
        .select("col_name", "n_rows", "ndv")
    )
    stats = {r["col_name"]: (int(r["n_rows"]), int(r["ndv"])) for r in prof.collect()}

    frames = []
    for label, (ta, ka), (tb, kb) in [
        ("lineitem*orders", (li, "l_orderkey"), (od, "o_orderkey")),
        ("orders*customer", (od, "o_custkey"), (cu, "c_custkey")),
    ]:
        keys_a = ta.select(F.col(ka).cast("string").alias("k"))
        keys_b = tb.select(F.col(kb).cast("string").alias("k"))
        # ONE scan per (table, key) (r13): per-key counts feed both the
        # CMS build (count_col form — bit-identical counters) and the
        # exact join-size twin via one reused exchange per side.
        counts_a = keys_a.groupBy("k").agg(F.count(F.lit(1)).alias("ca"))
        counts_b = keys_b.groupBy("k").agg(F.count(F.lit(1)).alias("cb"))
        est_cms = cms_inner_product(
            cms_build(counts_a, "k", width=4096, depth=4, count_col="ca"),
            cms_build(counts_b, "k", width=4096, depth=4, count_col="cb"),
        )
        (n_a, ndv_a), (n_b, ndv_b) = stats[ka], stats[kb]
        est_stats = (n_a * n_b) // max(ndv_a, ndv_b)
        exact = (
            counts_a.join(counts_b, "k")
            .agg(
                F.coalesce(F.sum(F.col("ca") * F.col("cb")), F.lit(0))
                .cast("bigint")
                .alias("exact_rows")
            )
        )
        frames.append(
            est_cms.crossJoin(exact).select(
                F.lit(label).alias("first_join"),
                F.col("est").cast("bigint").alias("est_cms"),
                F.lit(est_stats).cast("bigint").alias("est_stats"),
                "exact_rows",
            )
        )
    out = frames[0].unionByName(frames[1])
    w = Window.partitionBy()
    return out.select(
        "first_join",
        "est_cms",
        "est_stats",
        "exact_rows",
        (F.col("est_cms") >= F.col("exact_rows")).alias("cms_sound"),
        (F.col("est_cms") == F.min("est_cms").over(w)).alias("cms_pick"),
        (F.col("est_stats") == F.min("est_stats").over(w)).alias("stats_pick"),
        (F.col("exact_rows") == F.min("exact_rows").over(w)).alias(
            "truly_smaller"
        ),
    ).orderBy("first_join")


_X91_COLS = [
    ("orders", "o_orderkey"), ("orders", "o_custkey"),
    ("orders", "o_orderstatus"), ("customer", "c_custkey"),
    ("documents", "source"), ("documents", "lang"),
    ("documents", "doc_id"),
]


@_q(
    "x91_profile_approx_certified",
    "WITH cols AS ("
    + " UNION ALL ".join(
        f"SELECT '{t}.{c}' AS col_name,"
        f" CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv_exact FROM {t}"
        for t, c in _X91_COLS
    )
    + """)
       SELECT col_name, ndv_exact, TRUE AS approx_within_10pct
       FROM cols ORDER BY col_name""",
    doc="The approx profile mode (functions/stats.py:table_profile "
    "approx=True) certified through the driver gate itself, the x88 "
    "pattern: the engine computes BOTH profiles — exact NDV via "
    "COUNT(DISTINCT) (the Expand path) and approx via "
    "approx_count_distinct (HLL++, no Expand, the single unmultiplied "
    "pass that is the right mode at 100 TB) — and emits the exact "
    "NDVs plus an in-query certification that every approx estimate "
    "lands within 10% (or +-1 for tiny vocabularies, where HLL++'s "
    "sparse mode is exact). The oracle rebuilds the exact NDVs and "
    "states the invariant; the hash match holds only if the approx "
    "path is actually that accurate. Deterministic because HLL++ "
    "register merge is a max — same data, any partition layout, same "
    "estimate.",
)
def x91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import table_profile

    by_table: dict[str, list[str]] = {}
    for t, c in _X91_COLS:
        by_table.setdefault(t, []).append(c)

    def prof(approx: bool) -> DataFrame:
        parts = []
        for t, cols in by_table.items():
            p = table_profile(
                load_table(spark, sf_dir, t),
                {c: "int" for c in cols},
                approx=approx,
            ).select(
                F.concat(F.lit(t + "."), F.col("col_name")).alias("col_name"),
                F.col("ndv"),
            )
            parts.append(p)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    exact = prof(False).withColumnRenamed("ndv", "ndv_exact")
    approx = prof(True).withColumnRenamed("ndv", "ndv_approx")
    err = F.abs(F.col("ndv_approx") - F.col("ndv_exact"))
    return (
        exact.join(approx, "col_name")
        .select(
            "col_name",
            F.col("ndv_exact").cast("bigint").alias("ndv_exact"),
            ((err * 10 <= F.col("ndv_exact")) | (err <= 1)).alias(
                "approx_within_10pct"
            ),
        )
        .orderBy("col_name")
    )


def _x92_oracle(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    n_queries: int = 5,
    topk: int = 5,
    n_lists: int = 8,
    nprobe: int = 2,
) -> str:
    """IVF-PQ oracle: the x14 coarse-assignment CTEs (lowest-id
    centroids, cosine via unit-normalized dot, ties to smaller id)
    restrict which (query, neighbor) pairs exist, then the x80
    per-subspace Lloyd chains + ADC lookup tables score only those
    candidates. Partials carried as ROUND(dot*1e9) BIGINT (partition-
    order-independent sums)."""
    sub = EMB_DIM // m
    guard = (
        "CASE WHEN list_dot_product(cvec, cvec) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(cvec, cvec)) END"
    )
    cguard = (
        "CASE WHEN sqrt(list_dot_product(vcent, vcent)) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(vcent, vcent)) END"
    )
    ctes = [
        "vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""coarse AS (
         SELECT vec_id AS centroid_id, embedding::DOUBLE[] AS vcent
         FROM embeddings ORDER BY vec_id LIMIT {n_lists}
       )""",
        f"""cassign AS (
         SELECT vec_id, centroid_id,
                ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_dot_product(v,
                    list_transform(vcent, x -> x / ({cguard}))) DESC,
                    centroid_id) AS r
         FROM vecs, coarse
       )""",
        "inv AS (SELECT vec_id AS neighbor_id, centroid_id"
        " FROM cassign WHERE r = 1)",
        f"probes AS (SELECT vec_id AS qid, centroid_id FROM cassign"
        f" WHERE r <= {nprobe} AND vec_id < {n_queries})",
        """cand AS (
         SELECT p.qid, i.neighbor_id
         FROM inv i JOIN probes p USING (centroid_id)
         WHERE i.neighbor_id <> p.qid
         GROUP BY p.qid, i.neighbor_id
       )""",
    ]
    enc_parts, lut_parts = [], []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"sv{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM vecs)")
        ctes += _kmeans_ctes(k, sub, iters, src=f"sv{s}", prefix=f"s{s}")
        ctes.append(f"""enc{s} AS (
         SELECT vec_id, {s} AS s, centroid_id AS code FROM (
           SELECT vec_id, centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY sc DESC, centroid_id) AS r
           FROM (SELECT t.vec_id, c.centroid_id,
                        list_dot_product(t.v,
                          list_transform(c.cvec, x -> x / ({guard}))) AS sc
                 FROM sv{s} t, s{s}c{iters} c)
         ) WHERE r = 1
       )""")
        ctes.append(f"""lut{s} AS (
         SELECT q.vec_id AS qid, {s} AS s, c.centroid_id AS code,
                CAST(ROUND(list_dot_product(q.v, c.cvec) * 1e9) AS BIGINT)
                  AS part
         FROM (SELECT vec_id, v FROM sv{s} WHERE vec_id < {n_queries}) q,
              s{s}c{iters} c
       )""")
        enc_parts.append(f"SELECT * FROM enc{s}")
        lut_parts.append(f"SELECT * FROM lut{s}")
    ctes.append("enc AS (" + " UNION ALL ".join(enc_parts) + ")")
    ctes.append("lut AS (" + " UNION ALL ".join(lut_parts) + ")")
    ctes.append("""approx AS (
         SELECT c.qid, c.neighbor_id, CAST(SUM(l.part) AS BIGINT) AS apx
         FROM cand c
         JOIN enc e ON e.vec_id = c.neighbor_id
         JOIN lut l ON l.qid = c.qid AND l.s = e.s AND l.code = e.code
         GROUP BY c.qid, c.neighbor_id
       )""")
    joined = ",\n       ".join(ctes)
    return f"""WITH {joined}
       SELECT qid AS query_id, neighbor_id,
              CAST(rank AS INTEGER) AS rank,
              ROUND(apx / 1e9 + 0.0, 6) AS approx_score
       FROM (SELECT qid, neighbor_id, apx,
                    ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY apx DESC, neighbor_id) AS rank
             FROM approx)
       WHERE rank <= {topk} ORDER BY query_id, rank"""


@_q(
    "x92_ivfpq_topk",
    _x92_oracle(m=4, k=8, iters=2, n_queries=5, topk=5, n_lists=8, nprobe=2),
    doc="IVF-PQ — the FAISS-architecture composition of x14's coarse "
    "inverted lists with x80's product-quantization ADC, and the shape "
    "ANN actually takes at 100 TB: the coarse quantizer prunes the "
    "candidate set to the query's nprobe=2 lists (an equi-join on "
    "centroid_id, never a corpus scan per query), then asymmetric "
    "distance scores ONLY those candidates from 4-byte PQ codes and a "
    "broadcast 32-row-per-query LUT — full vectors are touched at "
    "neither stage. Candidate pruning composes multiplicatively with "
    "the 16x PQ memory compression: probe fraction x code bytes is "
    "what a 1000-executor cluster reads. Codes join candidates on "
    "vec_id, LUT parts attach by broadcast, partials are scaled-BIGINT "
    "(partition-order-independent). Oracle = x14's coarse CTEs + "
    "x80's per-subspace Lloyd chains, spliced.",
    bnlj_bounded=1,
)
def x92(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cents = emb.orderBy("vec_id").limit(8)
    inv = sim.ivf_assign(emb, cents, nprobe=1).select(
        F.col("vec_id").alias("neighbor_id"), "centroid_id"
    )
    probes = sim.ivf_assign(queries, cents, nprobe=2).select(
        F.col("vec_id").alias("qid"), "centroid_id"
    )
    cand = (
        inv.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("qid"))
        .select("qid", "neighbor_id")
        .distinct()
    )
    cb = sim.pq_train(emb, m=4, n_clusters=8, iters=2)
    codes = sim.pq_encode(emb, cb).withColumnRenamed("vec_id", "neighbor_id")
    sub = len(cb[0][2])
    cent = local_frame(
        spark, [(s, j, v) for s, j, v in cb], "s int, code long, cvec array<double>"
    )
    dot = F.aggregate(
        F.zip_with(
            F.slice(F.col("embedding"), F.col("s") * sub + 1, sub),
            F.col("cvec"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = (
        queries.select(F.col("vec_id").alias("qid"), "embedding")
        .crossJoin(F.broadcast(cent))
        .select(
            "qid", "s", "code",
            F.round(dot * F.lit(1e9)).cast("bigint").alias("part"),
        )
    )
    scored = (
        codes.join(cand, "neighbor_id")
        .join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "neighbor_id")
        .agg(F.sum("part").cast("bigint").alias("apx"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("apx"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            "neighbor_id",
            "rank",
            F.round(F.col("apx") / F.lit(1e9) + F.lit(0.0), 6).alias(
                "approx_score"
            ),
        )
        .orderBy("query_id", "rank")
    )


@_q(
    "x93_approx_quantile_certified",
    """WITH t AS (
         SELECT l_returnflag, CAST(l_extendedprice * 100 AS BIGINT) AS cents
         FROM lineitem
       ),
       ex AS ("""
    + " UNION ALL ".join(
        f"""SELECT l_returnflag, CAST({q} AS DOUBLE) AS q,
                CAST(quantile_disc(cents, {q}) AS BIGINT) AS exact_disc
         FROM t GROUP BY l_returnflag"""
        for q in (0.25, 0.5, 0.9, 0.99)
    )
    + """)
       SELECT l_returnflag, q, exact_disc, TRUE AS approx_rank_ok
       FROM ex ORDER BY l_returnflag, q""",
    doc="Approximate quantiles certified through the driver gate (the "
    "x91 pattern for percentiles): the engine computes per-group "
    "approx_percentile (Greenwald-Khanna sketch, accuracy=10000 - the "
    "mergeable bounded-state path that replaces a global sort at "
    "100 TB) AND the exact disc percentile from the d43/x63 value-"
    "histogram, then certifies IN-QUERY that each approx value's true "
    "rank lands within the sketch's +-n/accuracy guarantee (rank "
    "bounds computed by counting values at-or-below the approx pick - "
    "one conditional-count pass, no sort). The emitted exact values "
    "hash-match the oracle; the certification boolean holds under ANY "
    "partition layout even though GK merge order can move the picked "
    "value inside the guarantee band. Money carried as integer cents "
    "(the d49 convention).",
)
def x93(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    qs = [0.25, 0.5, 0.9, 0.99]
    acc = 10000
    # one grouped pass computes ALL approx quantiles + n per group
    apx = li.groupBy("l_returnflag").agg(
        F.percentile_approx("cents", qs, acc).alias("apx"),
        F.count(F.lit(1)).alias("n"),
    )
    apx = apx.select(
        "l_returnflag",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q) for q in qs]).alias("q"),
                F.col("apx").alias("apx_val"),
            )
        ).alias("z"),
    ).select("l_returnflag", "n", F.col("z.q").alias("q"), F.col("z.apx_val").alias("apx_val"))
    # exact disc percentile over the value histogram (x63's shape: the
    # ordered window runs over distinct VALUES, never rows)
    vc = li.groupBy("l_returnflag", F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("l_returnflag").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = vc.withColumn("cum", F.sum("c").over(w))
    qdf = apx
    # exact pick: least v whose cumulative count reaches ceil(q*n);
    # true rank bounds of the approx pick: [count(< apx), count(<= apx)]
    joined = (
        qdf.join(cum, "l_returnflag")
        .groupBy("l_returnflag", "q", "n", "apx_val")
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.col("q") * F.col("n")), F.col("v")
                )
            ).alias("exact_disc"),
            F.sum(F.when(F.col("v") < F.col("apx_val"), F.col("c")).otherwise(0)).alias("rank_lo"),
            F.sum(F.when(F.col("v") <= F.col("apx_val"), F.col("c")).otherwise(0)).alias("rank_hi"),
        )
    )
    target = F.ceil(F.col("q") * F.col("n"))
    tol = (F.col("n") + F.lit(acc) - 1) / F.lit(acc)  # ceil(n/acc) guarantee
    ok = (F.col("rank_hi") >= target - tol) & (F.col("rank_lo") <= target + tol)
    return joined.select(
        "l_returnflag",
        "q",
        F.col("exact_disc").cast("bigint").alias("exact_disc"),
        ok.alias("approx_rank_ok"),
    ).orderBy("l_returnflag", "q")


_X94_ORACLE = (
    r"""WITH tokraw AS (
         SELECT doc_id, source,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
         FROM documents
       ),
       tok AS (SELECT doc_id, source, term FROM tokraw WHERE term <> ''),
       vocab AS (
         SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY term
       ),"""
    + _x85_cte("t", "tok", "term", "documents.term")
    + """,
       j AS (
         SELECT tok.source, v.df FROM tok JOIN vocab v USING (term)
       )
       SELECT j.source,
              CAST(COUNT(*) AS BIGINT) AS n_tok,
              CAST(SUM(j.df) AS BIGINT) AS sum_df,
              ROUND(SUM(j.df)::DOUBLE / COUNT(*)::DOUBLE + 0.0, 4) AS avg_df,
              r.recommended_salts AS salts_used
       FROM j CROSS JOIN t_row r
       GROUP BY j.source, r.recommended_salts
       ORDER BY j.source"""
)


@_q(
    "x94_adaptive_salted_join",
    _X94_ORACLE,
    doc="The skew loop CLOSED: x85's key_skew_report prices the token "
    "key's Zipf head and recommends a salt count; x39's salted_join "
    "runs with EXACTLY that recommendation (not a hand-picked "
    "constant); the plain-join oracle certifies the salted plan is "
    "row-for-row identical AND that the engine applied the same salt "
    "count the report's SQL twin derives. This is how the diagnose -> "
    "apply -> verify cycle runs at 100 TB: the report reads one "
    "grouped count (the only ordered window is over the count-value "
    "histogram), the recommendation is k-row planner state, and the "
    "hot term's rows spread across salt sub-keys so no task owns a "
    "Zipf head alone. Integer token/df sums keep the division exact "
    "to the rounding precision on both engines.",
)
def x94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import key_skew_report
    from deepcell_data_engineering_spark.plans.layout import salted_join

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "term"
        ),
    ).where(F.col("term") != "")
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # planner state: the 1-row skew report picks the salt count (the
    # x90/x92 convention - statistics are k-row, the data is not
    # re-scanned to plan). The report derives from the vocabulary the
    # join needs anyway (counts=), so the corpus explode aggregates
    # ONCE, not twice.
    rep = key_skew_report(
        tok, "term", "documents.term", counts=vocab, count_col="df"
    ).collect()[0]
    n_salts = int(rep["recommended_salts"])
    j = salted_join(tok, vocab, key="term", salt_source="doc_id", n_salts=n_salts)
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("df").cast("bigint").alias("sum_df"),
            F.round(
                F.sum("df").cast("double") / F.count(F.lit(1)).cast("double")
                + F.lit(0.0),
                4,
            ).alias("avg_df"),
        )
        .select(
            "source",
            F.col("n_tok").cast("bigint").alias("n_tok"),
            "sum_df",
            "avg_df",
            F.lit(n_salts).cast("bigint").alias("salts_used"),
        )
        .orderBy("source")
    )


_X95_CONFIGS = [(1, 6), (2, 3), (3, 2), (6, 1)]


def _x95_oracle(t: float = 0.5) -> str:
    """Adaptive-LSH oracle: x45's exact-Jaccard machinery defines the
    truth set, one banded/pairs/stat CTE chain per (bands, rows)
    config, implied thresholds via POWER, argmin pick via window."""
    head = _MINHASH_CHUNKS.replace(
        "FROM documents,",
        "FROM (SELECT * FROM documents WHERE doc_id < 200) documents,",
        1,
    )
    ctes = [
        f"""sig AS (
         SELECT doc_id,
              {_minhash_oracle_terms(6)}
         FROM chunks GROUP BY doc_id
       )""",
        "dsh AS (SELECT DISTINCT doc_id, shingle FROM sh)",
        "sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM dsh GROUP BY doc_id)",
        """inter AS (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
         FROM dsh a JOIN dsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         GROUP BY a.doc_id, b.doc_id
       )""",
        f"""truth AS (
         SELECT i.id_a, i.id_b
         FROM inter i
         JOIN sizes za ON i.id_a = za.doc_id
         JOIN sizes zb ON i.id_b = zb.doc_id
         WHERE ROUND(i.n_inter / (za.n_sh + zb.n_sh - i.n_inter), 6)
               >= {t}
       )""",
        "nt AS (SELECT COUNT(*) AS n_true FROM truth)",
    ]
    stat_parts = []
    for b, r in _X95_CONFIGS:
        groups = [[f"h{g * r + j}" for j in range(r)] for g in range(b)]
        branches = " UNION ALL ".join(
            "SELECT doc_id, md5("
            + " || '-' || ".join(f"{c}::VARCHAR" for c in grp)
            + ") AS band FROM sig"
            for grp in groups
        )
        ctes.append(f"banded{b} AS ({branches})")
        ctes.append(
            f"""pairs{b} AS (
         SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM banded{b} a JOIN banded{b} b
           ON a.band = b.band AND a.doc_id < b.doc_id
       )"""
        )
        stat_parts.append(
            f"""SELECT {b} AS bands, {r} AS rows_per_band,
                (SELECT COUNT(*) FROM pairs{b}) AS n_candidates,
                (SELECT COUNT(*) FROM pairs{b} p
                 JOIN truth USING (id_a, id_b)) AS n_found"""
        )
    ctes.append("allstats AS (" + " UNION ALL ".join(stat_parts) + ")")
    joined = ",\n       ".join(ctes)
    return f"""{head},
       {joined}
       SELECT CAST(bands AS BIGINT) AS bands,
              CAST(rows_per_band AS BIGINT) AS rows_per_band,
              ROUND(POWER(1.0 / bands, 1.0 / rows_per_band) + 0.0, 4)
                AS implied_threshold,
              CAST(n_candidates AS BIGINT) AS n_candidates,
              CAST(n_found AS BIGINT) AS n_found,
              CAST(nt.n_true AS BIGINT) AS n_true,
              ROUND(COALESCE(n_found::DOUBLE / NULLIF(nt.n_true, 0)::DOUBLE,
                             0.0) + 0.0, 4) AS recall,
              ROUND(COALESCE(n_found::DOUBLE / NULLIF(n_candidates, 0)::DOUBLE,
                             0.0) + 0.0, 4) AS prec,
              ABS(POWER(1.0 / bands, 1.0 / rows_per_band) - {t})
                = MIN(ABS(POWER(1.0 / bands, 1.0 / rows_per_band) - {t}))
                  OVER () AS chosen
       FROM allstats CROSS JOIN nt
       ORDER BY bands"""


@_q(
    "x95_adaptive_lsh",
    _x95_oracle(t=0.5),
    doc="The dedup loop CLOSED (the x94 pattern for LSH): for a target "
    "Jaccard threshold 0.5 and a 6-hash MinHash signature, ALL four "
    "legal (bands x rows) configurations are measured on a bounded "
    "corpus sample from ONE signature table — candidates generated, "
    "recall and precision against the exact-Jaccard truth set "
    "computed, the S-curve implied threshold (1/b)^(1/r) derived, and "
    "the config whose implied threshold is closest to the target "
    "marked chosen (here 3x2, implied 0.5774). This is how LSH "
    "parameters are actually committed before a 100 TB dedup pass: "
    "measure on a sample, pick by the S-curve, certify the recall the "
    "choice buys. The four configs share one signature build and one "
    "truth set; candidate stats are counts over vocab-bounded pair "
    "sets, never materialized row-pair scans. window_bounded=1: the "
    "chosen-config global MIN window runs over the 4-row config "
    "frame (a LocalRelation literal) joined to a grouped aggregate - "
    "constant cardinality by construction; the plan prover proves it "
    "at sf0.001, and the declaration keeps the bound at other scales.",
    window_bounded=1,
)
def x95(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = 0.5
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5).localCheckpoint()
    from pyspark.sql import Observation

    # the truth-set size rides the pin job (r13): no separate count()
    _tobs = Observation()
    truth = (
        dd.ngram_jaccard_pairs(docs, k=5)
        .where(F.col("jaccard") >= t)
        .select("id_a", "id_b")
        .observe(_tobs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_true = _tobs.get["n"]
    cand_all = None
    for b, r in _X95_CONFIGS:
        groups = [[f"h{g * r + j}" for j in range(r)] for g in range(b)]
        cand = dd.lsh_candidate_pairs(sigs, bands=groups).select(
            F.lit(b).alias("bands"),
            F.lit(r).alias("rows_per_band"),
            "id_a",
            "id_b",
        )
        cand_all = cand if cand_all is None else cand_all.unionByName(cand)
    marked = cand_all.join(
        truth.withColumn("__t", F.lit(1)), ["id_a", "id_b"], "left"
    )
    stats = marked.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.coalesce(F.col("__t"), F.lit(0))).alias("n_found"),
    )
    # a config can legitimately produce zero candidates - keep its row
    cfg = local_frame(spark, _X95_CONFIGS, "bands int, rows_per_band int")
    full = cfg.join(stats, ["bands", "rows_per_band"], "left").select(
        "bands",
        "rows_per_band",
        F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
        F.coalesce("n_found", F.lit(0)).alias("n_found"),
    )
    implied = F.pow(F.lit(1.0) / F.col("bands"), F.lit(1.0) / F.col("rows_per_band"))
    w = Window.partitionBy()
    rec = F.when(
        F.lit(n_true) > 0, F.col("n_found").cast("double") / F.lit(float(n_true))
    ).otherwise(F.lit(0.0))
    prc = F.when(
        F.col("n_candidates") > 0,
        F.col("n_found").cast("double") / F.col("n_candidates").cast("double"),
    ).otherwise(F.lit(0.0))
    return full.select(
        F.col("bands").cast("bigint").alias("bands"),
        F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
        F.round(implied + F.lit(0.0), 4).alias("implied_threshold"),
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("n_found").cast("bigint").alias("n_found"),
        F.lit(n_true).cast("bigint").alias("n_true"),
        F.round(rec + F.lit(0.0), 4).alias("recall"),
        F.round(prc + F.lit(0.0), 4).alias("prec"),
        (
            F.abs(implied - F.lit(t))
            == F.min(F.abs(implied - F.lit(t))).over(w)
        ).alias("chosen"),
    ).orderBy("bands")


def _x96_oracle(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    n_queries: int = 5,
    topk: int = 5,
    n_lists: int = 8,
    nprobe: int = 2,
) -> str:
    """Residual IVF-PQ oracle: x92's coarse CTEs, then the Lloyd
    chains/codes/LUTs run over RESIDUAL vectors (v - coarse centroid,
    element-wise via DuckDB's indexed list_transform), with one lookup
    table per (query, probed list) because the query residual differs
    per list."""
    sub = EMB_DIM // m
    guard = (
        "CASE WHEN list_dot_product(cvec, cvec) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(cvec, cvec)) END"
    )
    cguard = (
        "CASE WHEN sqrt(list_dot_product(vcent, vcent)) = 0 THEN 1.0"
        " ELSE sqrt(list_dot_product(vcent, vcent)) END"
    )
    ctes = [
        "vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
    ]
    # TRAINED coarse centroids (the x19 Lloyd chain, 3 iterations):
    # residual encoding only pays when residuals are centered and
    # small, i.e. when the coarse quantizer is actual cluster MEANS —
    # with arbitrary member vectors as "centroids" (the x14/x92
    # lowest-id convention) residual variance exceeds raw variance and
    # recall DEGRADES (measured: 0.12 vs 0.24 raw)
    ctes += _kmeans_ctes(n_lists, EMB_DIM, 3, src="vecs", prefix="cc")
    ctes += [
        "coarse AS (SELECT centroid_id, cvec AS vcent FROM ccc3)",
        f"""cassign AS (
         SELECT vec_id, centroid_id,
                ROW_NUMBER() OVER (
                  PARTITION BY vec_id
                  ORDER BY list_dot_product(v,
                    list_transform(vcent, x -> x / ({cguard}))) DESC,
                    centroid_id) AS r
         FROM vecs, coarse
       )""",
        """rv AS (
         SELECT a.vec_id, a.centroid_id,
                list_transform(t.v, (x, i) -> x - c.vcent[i]) AS v
         FROM cassign a
         JOIN vecs t ON t.vec_id = a.vec_id
         JOIN coarse c ON c.centroid_id = a.centroid_id
         WHERE a.r = 1
       )""",
        f"""qraw AS (
         SELECT a.vec_id AS qid, a.centroid_id, t.v,
                CAST(ROUND(list_dot_product(t.v, c.vcent) * 1e9) AS BIGINT)
                  AS cdot
         FROM cassign a
         JOIN vecs t ON t.vec_id = a.vec_id
         JOIN coarse c ON c.centroid_id = a.centroid_id
         WHERE a.r <= {nprobe} AND a.vec_id < {n_queries}
       )""",
    ]
    enc_parts, lut_parts = [], []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        ctes.append(f"rsv{s} AS (SELECT vec_id, v[{lo}:{hi}] AS v FROM rv)")
        ctes += _kmeans_ctes(k, sub, iters, src=f"rsv{s}", prefix=f"r{s}")
        ctes.append(f"""enc{s} AS (
         SELECT vec_id, {s} AS s, centroid_id AS code FROM (
           SELECT vec_id, centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY sc DESC, centroid_id) AS r
           FROM (SELECT t.vec_id, c.centroid_id,
                        list_dot_product(t.v,
                          list_transform(c.cvec, x -> x / ({guard}))) AS sc
                 FROM rsv{s} t, r{s}c{iters} c)
         ) WHERE r = 1
       )""")
        ctes.append(f"""lut{s} AS (
         SELECT q.qid, q.centroid_id, {s} AS s, c.centroid_id AS code,
                CAST(ROUND(list_dot_product(q.v[{lo}:{hi}], c.cvec) * 1e9)
                     AS BIGINT) AS part
         FROM qraw q, r{s}c{iters} c
       )""")
        enc_parts.append(f"SELECT * FROM enc{s}")
        lut_parts.append(f"SELECT * FROM lut{s}")
    ctes.append("enc AS (" + " UNION ALL ".join(enc_parts) + ")")
    ctes.append("lut AS (" + " UNION ALL ".join(lut_parts) + ")")
    ctes.append("""vmap AS (SELECT vec_id AS neighbor_id, centroid_id
                 FROM rv)""")
    ctes.append("""consts AS (
         SELECT DISTINCT qid, centroid_id, cdot FROM qraw
       )""")
    ctes.append("""approx AS (
         SELECT l.qid, e.vec_id AS neighbor_id, v.centroid_id,
                CAST(SUM(l.part) AS BIGINT) AS rsum
         FROM enc e
         JOIN vmap v ON v.neighbor_id = e.vec_id
         JOIN lut l ON l.centroid_id = v.centroid_id
                   AND l.s = e.s AND l.code = e.code
         WHERE e.vec_id <> l.qid
         GROUP BY l.qid, e.vec_id, v.centroid_id
       )""")
    ctes.append("""scorep AS (
         SELECT a.qid, a.neighbor_id, a.rsum + k.cdot AS apx
         FROM approx a
         JOIN consts k ON k.qid = a.qid AND k.centroid_id = a.centroid_id
       )""")
    joined = ",\n       ".join(ctes)
    return f"""WITH {joined}
       SELECT qid AS query_id, neighbor_id,
              CAST(rank AS INTEGER) AS rank,
              ROUND(apx / 1e9 + 0.0, 6) AS approx_score
       FROM (SELECT qid, neighbor_id, apx,
                    ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY apx DESC, neighbor_id) AS rank
             FROM scorep)
       WHERE rank <= {topk} ORDER BY query_id, rank"""


@_q(
    "x96_ivfpq_residual_topk",
    _x96_oracle(),
    doc="RESIDUAL IVF-PQ — x92 upgraded to the full FAISS by_residual "
    "architecture for the inner-product metric: PQ codebooks train on "
    "v - coarse_centroid, so the quantizer spends its 4x8 codewords "
    "on the WITHIN-list displacement (small, centered) rather than "
    "re-encoding the between-list structure the coarse quantizer "
    "already captured. Scoring uses the exact FAISS-IP decomposition "
    "dot(q, v) = dot(q, c) + dot(q, v - c): the lookup tables hold "
    "RAW-query-slice x residual-codeword dots and a per-(query, "
    "probed-list) constant dot(q, c) adds back the between-list term "
    "— so the approximation error is exactly dot(q, residual-"
    "quantization-error), smaller by construction than raw PQ's at "
    "the same 4-byte memory cost, and scores stay comparable ACROSS "
    "probed lists (tests pin the recall improvement over x92's raw "
    "ADC against the exact-dot ground truth). Codes join candidates "
    "through the vec->list map; partials are scaled-BIGINT. Oracle = "
    "x92's coarse CTEs + residual construction via DuckDB's indexed "
    "list_transform + Lloyd chains over residual slices.",
    bnlj_bounded=1,
)
def x96(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # TRAINED coarse centroids (x19's Lloyd, 3 iters, tol=0): residual
    # encoding only pays when the coarse quantizer is actual cluster
    # MEANS - with arbitrary member vectors as centroids (x14/x92's
    # lowest-id convention) residual variance exceeds raw variance and
    # recall degrades (measured 0.12 vs 0.24 raw; trained: 0.36)
    fit = sim.kmeans_fit(emb, n_clusters=8, max_iter=3, tol=0.0)
    cents_src = fit.select(F.col("centroid_id").alias("vec_id"), "embedding")
    cents = fit.select(
        "centroid_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vcent"),
    )
    inv = sim.ivf_assign(emb, cents_src, nprobe=1)
    # the residual table feeds pq_train (persisted internally), the 4
    # pq_encode subspace branches, and the vec->list map - checkpoint
    # the shared lineage once (the x83 serial-deep-consumers pattern)
    res = (
        inv.join(F.broadcast(cents), "centroid_id")
        .select(
            "vec_id",
            "centroid_id",
            F.zip_with("embedding", "vcent", lambda x, y: x - y).alias("rv"),
        )
        .localCheckpoint()
    )
    cb = sim.pq_train(
        res.select("vec_id", "rv"), m=4, n_clusters=8, iters=2,
        vec_col="rv", id_col="vec_id",
    )
    codes = sim.pq_encode(
        res.select("vec_id", "rv"), cb, vec_col="rv", id_col="vec_id"
    ).withColumnRenamed("vec_id", "neighbor_id")
    vmap = res.select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
    probes = sim.ivf_assign(
        emb.where(F.col("vec_id") < 5), cents_src, nprobe=2
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        "centroid_id",
    )
    cdot = F.aggregate(
        F.zip_with("qv", "vcent", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # per-(query, probed list) rows: raw query vector + the constant
    # between-list term dot(q, c) of the FAISS-IP decomposition
    qprobe = probes.join(F.broadcast(cents), "centroid_id").select(
        "qid",
        "centroid_id",
        "qv",
        F.round(cdot * F.lit(1e9)).cast("bigint").alias("cdot"),
    )
    sub = len(cb[0][2])
    cent_rows = local_frame(
        spark, [(s, j, v) for s, j, v in cb], "s int, code long, cvec array<double>"
    )
    dot = F.aggregate(
        F.zip_with(
            F.slice(F.col("qv"), F.col("s") * sub + 1, sub),
            F.col("cvec"),
            lambda x, y: x * y,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = qprobe.crossJoin(F.broadcast(cent_rows)).select(
        "qid", "centroid_id", "s", "code",
        F.round(dot * F.lit(1e9)).cast("bigint").alias("part"),
    )
    consts = qprobe.select("qid", "centroid_id", "cdot").distinct()
    scored = (
        codes.join(vmap, "neighbor_id")
        .join(F.broadcast(lut), ["centroid_id", "s", "code"])
        .where(F.col("neighbor_id") != F.col("qid"))
        .groupBy("qid", "neighbor_id", "centroid_id")
        .agg(F.sum("part").cast("bigint").alias("rsum"))
        .join(F.broadcast(consts), ["qid", "centroid_id"])
        .select(
            "qid",
            "neighbor_id",
            (F.col("rsum") + F.col("cdot")).cast("bigint").alias("apx"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("apx"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            "neighbor_id",
            "rank",
            F.round(F.col("apx") / F.lit(1e9) + F.lit(0.0), 6).alias(
                "approx_score"
            ),
        )
        .orderBy("query_id", "rank")
    )


@_q(
    "x97_python_datasource",
    """WITH g AS (SELECT unnest(generate_series(0, 999)) AS i),
       s AS (
         SELECT i AS doc_id,
                ['en','de','es','fr','zh'][
                  1 + (('0x' || substr(md5(i::VARCHAR || 'L'), 1, 7))::BIGINT
                       % 5)] AS lang,
                ('0x' || substr(md5(i::VARCHAR), 1, 7))::BIGINT AS value
         FROM g
       )
       SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(value) AS BIGINT) AS sum_value,
              CAST(MIN(doc_id) AS BIGINT) AS min_id,
              CAST(MAX(doc_id) AS BIGINT) AS max_id
       FROM s GROUP BY lang ORDER BY lang""",
    doc="Custom Python DataSource (Spark 4 DataSource V2 Python API, "
    "sources/pydatasource.py): a registered, PARTITIONED synthetic-"
    "corpus generator — partitions() plans equal-width id ranges, each "
    "read() generates only its slice, so the source scales to any row "
    "count by adding partitions with zero storage and zero skew (the "
    "TPC-dbgen shape as a first-class source). Rows are pure md5 "
    "functions of the row index, so the DuckDB oracle rebuilds the "
    "identical table from generate_series — the driver hash gate "
    "certifies the custom-source machinery itself (schema, partition "
    "planning, per-partition iteration), not just downstream "
    "operators. Aggregation collapses the generated table to 5 rows; "
    "content is partition-count invariant by construction.",
)
def x97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.sources import pydatasource

    pydatasource.register(spark)
    s = (
        spark.read.format("synthetic_docs")
        .option("n", "1000")
        .option("partitions", "8")
        .load()
    )
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.min("doc_id").cast("bigint").alias("min_id"),
            F.max("doc_id").cast("bigint").alias("max_id"),
        )
        .orderBy("lang")
    )


@_q(
    "x98_polymorphic_udtf",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
                AS sum_k,
              CAST(COUNT(*) FILTER (
                WHERE json_extract_string(props, '$.m') IS NULL
              ) AS BIGINT) AS n_null_m
       FROM events
       GROUP BY event_type ORDER BY event_type""",
    doc="Polymorphic Python UDTF (Spark 4 analyze() protocol, "
    "functions/udtfs.py:JsonFieldsUDTF): the output SCHEMA is computed "
    "at analysis time from the constant fields argument - "
    "json_fields_udtf(props, 'k,m') resolves to columns (k, m) before "
    "planning, so Catalyst projects/prunes them like real columns - "
    "the capability x72's static-returnType UDTF cannot express. The "
    "query extracts a present field (k, summed after cast) and an "
    "absent one (m, certified all-NULL - schema-on-read quarantine "
    "semantics) through SQL LATERAL, and the oracle rebuilds both "
    "from json_extract, so the hash gate certifies the dynamic-schema "
    "resolution end to end.",
)
def x98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.udtfs import (
        register_json_fields_udtf,
    )

    fn = register_json_fields_udtf(spark)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("x98_events")
    return spark.sql(
        f"""SELECT e.event_type,
                  CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(j.k AS BIGINT)) AS BIGINT) AS sum_k,
                  CAST(COUNT_IF(j.m IS NULL) AS BIGINT) AS n_null_m
            FROM x98_events e, LATERAL {fn}(e.props, 'k,m') j
            GROUP BY e.event_type ORDER BY e.event_type"""
    )


@_q(
    "x99_ewma_user_value",
    """WITH seqs AS (
         SELECT user_id,
                list(value ORDER BY ts, event_id) AS xs
         FROM events WHERE value IS NOT NULL
         GROUP BY user_id
       )
       SELECT user_id,
              CAST(len(xs) AS BIGINT) AS n_events,
              ROUND(list_reduce(xs, (acc, x) -> 0.3 * x + 0.7 * acc)
                    + 0.0, 6) AS ewma
       FROM seqs ORDER BY user_id""",
    doc="Exponential weighted moving average per user — the ordered-"
    "RECURRENCE class (e_t = a*x_t + (1-a)*e_{t-1}) that no single "
    "window frame can express because each step depends on the "
    "previous OUTPUT, not a fixed frame of inputs. Spark-first "
    "solution: one grouped collect of (ts, event_id, value) structs, "
    "array_sort for the total event order (ties broken by the unique "
    "event_id), then a codegen aggregate-HOF fold seeded with the "
    "first element — per-KEY arrays, so state is bounded by a user's "
    "event count at any corpus size (never a corpus-wide sequence), "
    "and the shuffle is the same single user-hash exchange every "
    "grouped agg takes. Floats fold in the identical order in both "
    "engines (DuckDB list(ORDER BY)+list_reduce), so the recurrence "
    "is bit-reproducible — the property that makes the result "
    "hashable at all.",
)
def x99(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ),
            lambda s: s["value"],
        ).alias("xs")
    )
    fold = F.aggregate(
        F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
        F.element_at(F.col("xs"), 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return seqs.select(
        "user_id",
        F.size("xs").cast("bigint").alias("n_events"),
        F.round(fold + F.lit(0.0), 6).alias("ewma"),
    ).orderBy("user_id")


@_q(
    "x100_cms_incremental",
    r"""WITH t AS (
         SELECT CAST(user_id AS VARCHAR) AS k, user_id FROM events
         WHERE user_id IS NOT NULL
       ),
       jj AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS v(j)),
       cms AS (
         SELECT j,
                ('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':' || k),
                                1, 7))::BIGINT % 4096 AS bucket,
                COUNT(*) AS c
         FROM t CROSS JOIN jj GROUP BY j, bucket
       ),
       exact AS (
         SELECT user_id, k, CAST(COUNT(*) AS BIGINT) AS exact_count
         FROM t GROUP BY user_id, k
       ),
       top AS (
         SELECT user_id, k, exact_count,
                ROW_NUMBER() OVER (ORDER BY exact_count DESC, user_id)
                  AS rank
         FROM exact
       ),
       est AS (
         SELECT top.user_id, top.exact_count, top.rank,
                MIN(COALESCE(cms.c, 0)) AS est_count
         FROM top
         CROSS JOIN jj
         LEFT JOIN cms
           ON cms.j = jj.j
          AND cms.bucket = ('0x' || substr(
                md5('cms' || CAST(jj.j AS VARCHAR) || ':' || top.k),
                1, 7))::BIGINT % 4096
         WHERE top.rank <= 15
         GROUP BY top.user_id, top.exact_count, top.rank
       )
       SELECT user_id, CAST(rank AS BIGINT) AS rank, exact_count,
              CAST(est_count AS BIGINT) AS est_count,
              CAST(est_count - exact_count AS BIGINT) AS overestimate
       FROM est ORDER BY rank""",
    doc="Incremental CMS maintenance certified through the driver gate "
    "— the x88 merge==rebuild pattern for the FREQUENCY sketch, "
    "completing the incremental family (HLL max-merge: streaming "
    "tests; KMV min-k re-rank: x88; CMS counter SUM: here). The "
    "engine answers the top-15 user-activity probes ONLY from "
    "cms_merge of two counter tables built over DISJOINT event halves "
    "(event_id parity); the oracle rebuilds one sketch from the full "
    "stream. Counters are linear, so merge == rebuild EXACTLY and the "
    "hash match IS the certification — the property that lets 1000 "
    "executors maintain per-partition/per-day counter states and fold "
    "them without ever re-scanning history. est >= exact rides along "
    "(collisions only add).",
)
def x100(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sketch import (
        cms_build,
        cms_lookup,
        cms_merge,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    t = ev.select(
        "event_id", "user_id", F.col("user_id").cast("string").alias("k")
    )
    # the engine's sketch state comes ONLY from the two half-stream
    # builds - the full stream is never sketched directly
    cms = cms_merge(
        cms_build(t.where(F.col("event_id") % 2 == 0), "k"),
        cms_build(t.where(F.col("event_id") % 2 == 1), "k"),
    )
    top = (
        t.groupBy("user_id", "k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_count"))
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("exact_count"), "user_id")),
        )
        .where(F.col("rank") <= 15)
    )
    est = cms_lookup(cms, top, "k")
    return est.select(
        "user_id",
        F.col("rank").cast("bigint").alias("rank"),
        "exact_count",
        F.col("est_count").cast("bigint").alias("est_count"),
        (F.col("est_count") - F.col("exact_count"))
        .cast("bigint")
        .alias("overestimate"),
    ).orderBy("rank")


@_q(
    "x101_scd2_build",
    """WITH c AS (
         SELECT user_id, ts, event_id, value FROM events
         WHERE event_type = 'click'
       )
       SELECT user_id,
              CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS BIGINT)
                AS version,
              ROUND(value + 0.0, 2) AS value,
              CAST(epoch_us(ts) AS BIGINT) AS valid_from_us,
              CAST(LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS BIGINT)
                AS valid_to_us,
              (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                IS NULL AS is_current
       FROM c ORDER BY user_id, version""",
    doc="SCD TYPE-2 dimension build — the warehouse history pattern "
    "d48's apply-changes (SCD1 latest-wins) deliberately discards: "
    "every attribute change becomes a VERSION row with a validity "
    "interval [valid_from, valid_to), the current version open-ended. "
    "One window (lead over the per-key change stream) derives the "
    "intervals — a single user-hash exchange, no self-join, at any "
    "history depth — and interval endpoints are exact epoch "
    "microseconds (BIGINT) so the history is hashable across engines. "
    "This is the dimension x102's point-in-time join consumes.",
)
def x101(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "click"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("bigint").alias("version"),
        F.round(F.col("value") + F.lit(0.0), 2).alias("value"),
        F.unix_micros("ts").cast("bigint").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).cast("bigint").alias("valid_to_us"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    ).orderBy("user_id", "version")


@_q(
    "x102_point_in_time_join",
    """WITH c AS (
         SELECT user_id, ts, event_id, value FROM events
         WHERE event_type = 'click'
       ),
       scd AS (
         SELECT user_id, value, ts AS vf,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS vt
         FROM c
       ),
       p AS (
         SELECT event_id, user_id, ts FROM events
         WHERE event_type = 'purchase'
       )
       SELECT p.event_id, p.user_id,
              CAST(epoch_us(p.ts) AS BIGINT) AS purchase_ts_us,
              ROUND(s.value + 0.0, 2) AS feature_value,
              CAST(epoch_us(s.vf) AS BIGINT) AS feature_as_of_us
       FROM p
       LEFT JOIN scd s
         ON s.user_id = p.user_id
        AND s.vf <= p.ts AND (s.vt IS NULL OR p.ts < s.vt)
       ORDER BY p.event_id""",
    doc="POINT-IN-TIME feature join — the feature-store op that "
    "prevents training-serving skew and temporal leakage: each "
    "purchase (the label event) is joined to the feature value that "
    "was KNOWN AT THAT MOMENT (the click-stream attribute's version "
    "valid at purchase time), never a later one; purchases before the "
    "user's first feature version keep NULL. The engine uses x16's "
    "union + window carry-forward composition (one user-hash shuffle "
    "+ one sort — linear at 100 TB), while the oracle states the "
    "CLASSIC interval formulation against the x101 SCD2 dimension "
    "(vf <= t < vt) — the hash match certifies the two formulations "
    "equivalent, which is exactly the argument for replacing the "
    "range join (O(facts x versions-per-key)) with the windowed "
    "carry-forward at scale.",
)
def x102(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    pit = asof_join(
        purchases, clicks, on="ts", by="user_id", value_cols=["value"]
    )
    return pit.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").cast("bigint").alias("purchase_ts_us"),
        F.round(F.col("value_matched") + F.lit(0.0), 2).alias("feature_value"),
        F.unix_micros("ts_matched").cast("bigint").alias("feature_as_of_us"),
    ).orderBy("event_id")


def _x103_oracle() -> str:
    from deepcell_data_engineering_spark.functions.layout import morton_sql

    z = morton_sql("l_partkey", "l_suppkey")
    return f"""
    WITH r AS (SELECT l_partkey AS pk, l_suppkey AS sk,
                      (l_orderkey * 8 + l_linenumber) AS lin,
                      {z} AS z,
                      ((l_partkey << 20) + l_suppkey) AS comp
               FROM lineitem),
    s AS (SELECT MIN(pk) AS pk_min, MAX(pk) AS pk_max,
                 MIN(sk) AS sk_min, MAX(sk) AS sk_max,
                 COUNT(*) AS n_total FROM r),
    p AS (SELECT pk_min + ((pk_max - pk_min) * 2) // 5 AS pk_lo,
                 pk_min + ((pk_max - pk_min) * 3) // 5 AS pk_hi,
                 sk_min + ((sk_max - sk_min) * 13) // 20 AS sk_lo,
                 sk_min + ((sk_max - sk_min) * 17) // 20 AS sk_hi,
                 n_total FROM s),
    lc AS (SELECT 'linear' AS layout, lin AS code, pk, sk FROM r
           UNION ALL SELECT 'pk_sk_sort', comp, pk, sk FROM r
           UNION ALL SELECT 'zorder', z, pk, sk FROM r),
    vc AS (SELECT layout, code, COUNT(*) AS c FROM lc GROUP BY layout, code),
    cm AS (SELECT layout, code,
                  SUM(c) OVER (PARTITION BY layout ORDER BY code) AS cum,
                  SUM(c) OVER (PARTITION BY layout) AS n
           FROM vc),
    tg AS (SELECT layout, i, (i * n + 63) // 64 AS target
           FROM (SELECT DISTINCT layout, n FROM cm), generate_series(1, 63) t(i)),
    bt AS (SELECT tg.layout, tg.i, MIN(cm.code) AS b
           FROM tg JOIN cm ON cm.layout = tg.layout AND cm.cum >= tg.target
           GROUP BY tg.layout, tg.i),
    ba AS (SELECT layout, list(b ORDER BY b) AS barr FROM bt GROUP BY layout),
    a AS (SELECT lc.layout, lc.pk, lc.sk,
                 len(list_filter(ba.barr, x -> x < lc.code)) + 1 AS bucket
          FROM lc JOIN ba ON lc.layout = ba.layout),
    zm AS (SELECT layout, bucket, COUNT(*) AS n_rows,
                  MIN(pk) AS min_pk, MAX(pk) AS max_pk,
                  MIN(sk) AS min_sk, MAX(sk) AS max_sk,
                  SUM(CASE WHEN pk BETWEEN pk_lo AND pk_hi
                            AND sk BETWEEN sk_lo AND sk_hi
                           THEN 1 ELSE 0 END) AS n_match
           FROM a, p GROUP BY layout, bucket),
    f AS (SELECT layout, n_rows, n_match, n_total,
                 CASE WHEN max_pk < pk_lo OR min_pk > pk_hi
                       OR max_sk < sk_lo OR min_sk > sk_hi
                      THEN 0 ELSE 1 END AS scanned
          FROM zm, p)
    SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(scanned) AS BIGINT) AS buckets_scanned,
           CAST(SUM(scanned * n_rows) AS BIGINT) AS rows_scanned,
           CAST(SUM(n_match) AS BIGINT) AS rows_matching,
           ROUND(CAST(SUM(scanned * n_rows) AS DOUBLE)
                 / CAST(ANY_VALUE(n_total) AS DOUBLE) + 0.0, 4) AS scan_fraction
    FROM f GROUP BY layout ORDER BY layout"""


@_q(
    "x103_zorder_skipping",
    _x103_oracle(),
    doc="Z-ORDER clustering vs zone-map skipping, MEASURED (functions/"
    "layout.py) — the write-time layout decision that dominates scan "
    "cost at 100 TB, where the cheapest file is the one min-max "
    "footer statistics prove irrelevant. lineitem rows are written "
    "into 64 equal-depth 'files' under THREE layouts from one "
    "layout-exploded pass: insertion order (l_orderkey), composite "
    "sort (pk-major), and the Morton bit-interleave of (l_partkey, "
    "l_suppkey). File assignment mirrors the real write path — "
    "repartitionByRange on the layout code: per-layout equi-depth "
    "boundaries at ranks ceil(i*n/64) from a cumulative window over "
    "the per-layout CODE HISTOGRAM (partitioned by layout — every "
    "window here is layout-parallel), then a map-side boundary-array "
    "count per row; all integer arithmetic, so engine and oracle "
    "agree bit-for-bit. For a box predicate (wide pk band x narrow "
    "sk band, bounds integer fractions of the data's min/max) the "
    "report gives per layout: files, files a zone map cannot prune, "
    "rows scanned, rows matching, scan fraction. Measured at sf0.01 "
    "(4.3%-selectivity box): linear scans 100%, pk-major 21.9% "
    "(prunes only the leading dim — every file spans the full sk "
    "range), zorder 14.1% (both dims narrow per file) — the OPTIMIZE "
    "ZORDER BY argument quantified on real data instead of asserted.",
)
def x103(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import layout as ly

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).cast("long").alias(
            "lin"
        ),
    )
    rows = li.withColumn(
        "z", ly.morton_code(F.col("pk"), F.col("sk"))
    ).withColumn("comp", F.shiftleft(F.col("pk"), ly.MORTON_BITS) + F.col("sk"))
    stats = rows.agg(
        F.min("pk").alias("pk_min"),
        F.max("pk").alias("pk_max"),
        F.min("sk").alias("sk_min"),
        F.max("sk").alias("sk_max"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    lc = rows.select(
        "pk", "sk",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.col("lin").alias("code"),
                ),
                F.struct(
                    F.lit("pk_sk_sort").alias("layout"),
                    F.col("comp").alias("code"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("z").alias("code"),
                ),
            )
        ).alias("lb"),
    ).select(
        "pk", "sk",
        F.col("lb.layout").alias("layout"),
        F.col("lb.code").alias("code"),
    )
    # per-layout equi-depth file boundaries: the repartitionByRange
    # write plan, exact. The prefix sum over the (layout, code)
    # histogram is DISTRIBUTED (layout.grouped_cumsum: range-
    # repartition + per-partition scans + broadcast offsets) — a
    # Window.partitionBy("layout") would funnel the near-unique
    # 'linear' histogram (code unique per row) through ONE task, the
    # r7-verdict scale-killer. Boundary extraction needs no lag and no
    # target join: cum_prev = cum - c, and code c is the boundary for
    # target t_i = ceil(i*n/64) exactly when i lands in
    # [floor(cum_prev*64/n) + 1, floor(cum*64/n)] — pure integer
    # arithmetic per histogram row (layout.boundary_ranges).
    #
    # ONE exploded fact pass (r13 optimization): the zone-map min/max,
    # the box-match count m, and the histogram count c are all folded
    # into the (layout, code) aggregation, so bucket assignment and the
    # per-bucket rollup run over HISTOGRAM rows — the exploded fact is
    # scanned once and crosses exactly one exchange. (Previously the
    # explode was scanned twice — histogram + assignment — and the
    # per-bucket rollup shuffled the full 3x-exploded fact a second
    # time.) Regrouping per-code integer partials (sum/min/max) per
    # bucket is bit-identical to aggregating raw rows; the box bounds
    # are global integer constants broadcast as a 1-row frame.
    span_pk = F.col("pk_max") - F.col("pk_min")
    span_sk = F.col("sk_max") - F.col("sk_min")
    box = (
        stats.withColumn("pk_lo", F.col("pk_min") + ly._int_div(span_pk * 2, F.lit(5)))
        .withColumn("pk_hi", F.col("pk_min") + ly._int_div(span_pk * 3, F.lit(5)))
        .withColumn("sk_lo", F.col("sk_min") + ly._int_div(span_sk * 13, F.lit(20)))
        .withColumn("sk_hi", F.col("sk_min") + ly._int_div(span_sk * 17, F.lit(20)))
        .select("n_total", "pk_lo", "pk_hi", "sk_lo", "sk_hi")
    )
    match = F.col("pk").between(F.col("pk_lo"), F.col("pk_hi")) & F.col(
        "sk"
    ).between(F.col("sk_lo"), F.col("sk_hi"))
    vc = (
        lc.crossJoin(F.broadcast(box))
        .withColumn("m", match.cast("int"))
        .groupBy("layout", "code")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("pk").alias("cmin_pk"),
            F.max("pk").alias("cmax_pk"),
            F.min("sk").alias("cmin_sk"),
            F.max("sk").alias("cmax_sk"),
            F.sum("m").alias("cm"),
        )
    )
    # per-layout row totals: every source row emits EXACTLY ONE struct
    # per layout (explode of a 3-element array), so sum(c) per layout
    # is identically n_total — which the narrow 2-column stats scan
    # already computed. The previous vc.groupBy("layout") ran under a
    # broadcast, and broadcast subtrees escape AQE stage reuse (the
    # r13 lesson), so it re-executed the ENTIRE exploded aggregation —
    # the query's most expensive subtree — once more per run. Now the
    # broadcast side is the cheap stats scan (r14; isolated A/B below).
    cum = ly.grouped_cumsum(vc, ["layout"], "code", "c").crossJoin(
        F.broadcast(stats.select(F.col("n_total").cast("long").alias("n")))
    )
    bounds = (
        ly.boundary_ranges(cum, ["layout"], "code", "c", "n", 64)
        .groupBy("layout")
        .agg(F.sort_array(F.collect_list("b")).alias("barr"))
    )
    assigned = vc.join(F.broadcast(bounds), "layout").withColumn(
        "bucket", ly.range_assign(F.col("code"), F.col("barr"))
    )
    zm = (
        assigned.groupBy("layout", "bucket")
        .agg(
            F.sum("c").cast("long").alias("n_rows"),
            F.min("cmin_pk").alias("min_pk"),
            F.max("cmax_pk").alias("max_pk"),
            F.min("cmin_sk").alias("min_sk"),
            F.max("cmax_sk").alias("max_sk"),
            F.sum("cm").cast("long").alias("n_match"),
        )
        .crossJoin(F.broadcast(box))
    )
    scanned = ~(
        (F.col("max_pk") < F.col("pk_lo"))
        | (F.col("min_pk") > F.col("pk_hi"))
        | (F.col("max_sk") < F.col("sk_lo"))
        | (F.col("min_sk") > F.col("sk_hi"))
    )
    return (
        zm.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum(scanned.cast("int")).cast("long").alias("buckets_scanned"),
            F.sum(F.when(scanned, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("n_match").cast("long").alias("rows_matching"),
            F.min("n_total").alias("nt"),
        )
        .select(
            "layout", "n_buckets", "buckets_scanned", "rows_scanned",
            "rows_matching",
            F.round(
                F.col("rows_scanned").cast("double")
                / F.col("nt").cast("double")
                + F.lit(0.0),
                4,
            ).alias("scan_fraction"),
        )
        .orderBy("layout")
    )


@_q(
    "x104_weighted_sample_incremental",
    """WITH u AS (
         SELECT doc_id, n_chars,
                (('0x' || substr(md5('w0:' || CAST(doc_id AS VARCHAR)), 1, 7))::BIGINT
                 + 1.0) / 268435456.0 AS u
         FROM documents WHERE n_chars > 0
       ),
       r AS (
         SELECT doc_id, n_chars,
                ROW_NUMBER() OVER (
                  ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id
                ) AS sample_rank
         FROM u
       )
       SELECT CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_chars
       FROM r WHERE sample_rank <= 60 ORDER BY sample_rank""",
    doc="Weighted-reservoir MERGE == REBUILD, certified through the "
    "driver gate — the incremental-maintenance story for SAMPLES, "
    "completing the family (first-seen MIN: x89; KMV min-k: x88; CMS "
    "counter SUM: x100). Because x61's Efraimidis-Spirakis draw is a "
    "pure function of (seed, doc_id), a weighted bottom-k sample is a "
    "mergeable state: the engine answers ONLY from the union of two "
    "top-60 samples built over DISJOINT corpus halves (doc_id parity) "
    "re-ranked by the recomputed keys — every member of the global "
    "top-60 is top-60 within its half, so merge == rebuild EXACTLY — "
    "while the oracle rebuilds the sample from the full corpus in one "
    "pass. At 100 TB that means every shard maintains its own k-row "
    "sample and a coordinator folds k-row states, never re-scanning "
    "history; the hash match IS the certification.",
)
def x104(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.sampling import (
        weighted_sample,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = weighted_sample(
        docs.where(F.col("doc_id") % 2 == 0), F.col("doc_id"), "n_chars", 60
    )
    b = weighted_sample(
        docs.where(F.col("doc_id") % 2 == 1), F.col("doc_id"), "n_chars", 60
    )
    # the engine's sample comes ONLY from the two half-corpus states
    state = a.drop("sample_rank").unionByName(b.drop("sample_rank"))
    merged = weighted_sample(state, F.col("doc_id"), "n_chars", 60)
    return merged.select(
        F.col("sample_rank").cast("bigint").alias("sample_rank"),
        "doc_id",
        "n_chars",
    ).orderBy("sample_rank")


@_q(
    "x105_mad_outliers",
    """WITH e AS (
         SELECT event_type AS g, value AS v FROM events
         WHERE value IS NOT NULL
       ),
       vc AS (SELECT g, v, COUNT(*) AS c FROM e GROUP BY g, v),
       cm AS (SELECT g, v,
                     SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY g) AS n
              FROM vc),
       med AS (SELECT g, MIN(v) AS med FROM cm
               WHERE cum >= (n + 1) // 2 GROUP BY g),
       d AS (SELECT e.g, e.v, med.med, ABS(e.v - med.med) AS dev
             FROM e JOIN med ON e.g = med.g),
       dvc AS (SELECT g, dev, COUNT(*) AS c FROM d GROUP BY g, dev),
       dcm AS (SELECT g, dev,
                      SUM(c) OVER (PARTITION BY g ORDER BY dev) AS cum,
                      SUM(c) OVER (PARTITION BY g) AS n
               FROM dvc),
       mad AS (SELECT g, MIN(dev) AS mad FROM dcm
               WHERE cum >= (n + 1) // 2 GROUP BY g)
       SELECT d.g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(ANY_VALUE(d.med) + 0.0, 4) AS med,
              ROUND(ANY_VALUE(mad.mad) + 0.0, 4) AS mad,
              CAST(SUM(CASE WHEN d.dev > 3 * mad.mad
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
              CAST(SUM(CASE WHEN d.dev > 3 * mad.mad AND d.v < d.med
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
              CAST(SUM(CASE WHEN d.dev > 3 * mad.mad AND d.v > d.med
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_high
       FROM d JOIN mad ON d.g = mad.g
       GROUP BY d.g ORDER BY event_type""",
    doc="Robust per-group outlier screen (functions/stats.py:"
    "mad_outlier_report): |x - median| > 3 * MAD over events.value per "
    "event_type — the data-quality gate a metric column passes before "
    "training. Mean/stddev z-scores move with the outliers they hunt "
    "(one huge value inflates sigma until nothing is flagged); median/"
    "MAD has breakdown point 0.5, and the DISC formulation keeps every "
    "statistic an actual data value — exact and hashable across "
    "engines, no interpolated-median float shape. Distributed shape: "
    "two grouped-histogram median passes (grouped_disc_median — the "
    "cumulative window is PARTITIONED BY group, value-histogram "
    "granularity, never a global row sort) + one conditional-count "
    "aggregation; medians broadcast back as 5-row joins.",
)
def x105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import (
        mad_outlier_report,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    rep = mad_outlier_report(ev, "event_type", "value")
    return rep.select(
        "event_type",
        "n",
        F.round(F.col("med") + F.lit(0.0), 4).alias("med"),
        F.round(F.col("mad") + F.lit(0.0), 4).alias("mad"),
        "n_outliers",
        "n_low",
        "n_high",
    ).orderBy("event_type")


@_q(
    "x106_range_partition_plan",
    """WITH o AS (
         SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders
       ),
       vc AS (SELECT cents AS v, COUNT(*) AS c FROM o GROUP BY v),
       cm AS (SELECT v, SUM(c) OVER (ORDER BY v) AS cum FROM vc),
       tot AS (SELECT MAX(cum) AS n FROM cm),
       bt AS (SELECT i, MIN(v) AS b
              FROM (SELECT i, (i * n + 15) // 16 AS target
                    FROM generate_series(1, 15) t(i), tot) r
              JOIN cm ON cm.cum >= r.target GROUP BY i),
       ba AS (SELECT list(b ORDER BY b) AS barr FROM bt),
       a AS (SELECT cents,
                    CAST(len(list_filter(barr, x -> x < cents)) + 1
                         AS BIGINT) AS range_id
             FROM o, ba),
       g AS (SELECT range_id, COUNT(*) AS n_rows,
                    MIN(cents) AS min_cents, MAX(cents) AS max_cents
             FROM a GROUP BY range_id)
       SELECT range_id, CAST(n_rows AS BIGINT) AS n_rows,
              min_cents, max_cents,
              ROUND(CAST(n_rows * 16 AS DOUBLE)
                    / CAST((SELECT n FROM tot) AS DOUBLE) + 0.0, 4)
                AS depth_ratio,
              COALESCE(max_cents <= LEAD(min_cents) OVER (ORDER BY range_id),
                       TRUE) AS ok_ordered
       FROM g ORDER BY range_id""",
    doc="EXACT equi-depth range-partitioner planning (functions/"
    "layout.py:equi_depth_boundaries) — the boundary computation "
    "repartitionByRange approximates by reservoir sampling, done "
    "exactly and certified: 15 boundary values at ranks "
    "ceil(i*n/16) over orders' price in integer cents (d49 money "
    "convention), derived from a cumulative window over the VALUE "
    "HISTOGRAM (distinct cents — bounded vocabulary), never a global "
    "row sort; each row's range_id is then a map-side higher-order "
    "count of boundaries below its value against the 1-row broadcast "
    "boundary array (RangePartitioner.getPartition's contract). The "
    "report certifies the plan in-query: per-range row counts with "
    "depth_ratio (n_rows * B / n — equi-depth means ~1.0 wherever "
    "duplicate keys permit) and ok_ordered (ranges are value-disjoint "
    "and ordered: max(range i) <= min(range i+1) via LEAD over the "
    "16-row report). This is the skew-proof shuffle plan for sort/"
    "write at 100 TB: boundaries are k-1 rows of state, assignment "
    "is embarrassingly parallel.",
)
def x106(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions import layout as ly

    o = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents")
    )
    # ONE orders scan (r13): the value histogram drives BOTH the
    # boundary derivation (equi_depth_boundaries' internals, inlined so
    # the histogram is shared) and the per-range rollup — range ids are
    # assigned to DISTINCT cents values and the counts regrouped, which
    # is bit-identical to assigning raw rows (all rows of a value share
    # a range). Previously the raw scan ran twice (histogram +
    # assignment); the isNotNull filter mirrors equi_depth_boundaries
    # (o_totalprice is non-null, so no row is dropped).
    vc = (
        o.where(F.col("cents").isNotNull())
        .groupBy(F.col("cents").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = vc.agg(F.sum("c").cast("long").alias("n_total"))
    cum = ly.grouped_cumsum(vc, [], "v", "c").crossJoin(F.broadcast(tot))
    bounds = ly.boundary_ranges(
        cum, ["n_total"], "v", "c", "n_total", 16
    ).agg(
        F.max("n_total").alias("n_total"),
        F.sort_array(F.collect_list("b")).alias("boundaries"),
    )
    assigned = vc.crossJoin(F.broadcast(bounds)).withColumn(
        "range_id", ly.range_assign(F.col("v"), F.col("boundaries"))
    )
    g = assigned.groupBy("range_id").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.min("v").alias("min_cents"),
        F.max("v").alias("max_cents"),
        F.min("n_total").alias("n_total"),
    )
    w = Window.orderBy("range_id")
    return (
        g.select(
            "range_id", "n_rows", "min_cents", "max_cents",
            F.round(
                (F.col("n_rows") * 16).cast("double")
                / F.col("n_total").cast("double")
                + F.lit(0.0),
                4,
            ).alias("depth_ratio"),
            F.coalesce(
                F.col("max_cents") <= F.lead("min_cents").over(w), F.lit(True)
            ).alias("ok_ordered"),
        )
        .orderBy("range_id")
    )


@_q(
    "x107_snapshot_audit",
    """WITH base AS (
         SELECT o_orderkey AS k,
                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS pc,
                o_orderstatus AS st
         FROM orders
       ),
       old AS (SELECT * FROM base WHERE k % 23 <> 3),
       new AS (SELECT k,
                      CASE WHEN k % 23 IN (11, 13) THEN pc + 500
                           ELSE pc END AS pc,
                      CASE WHEN k % 23 = 11 THEN 'F' ELSE st END AS st
               FROM base WHERE k % 23 <> 7),
       j AS (SELECT o.k IS NULL AS adds, n.k IS NULL AS rems,
                    o.pc AS opc, n.pc AS npc,
                    (o.pc IS DISTINCT FROM n.pc) AS chg_pc,
                    (o.st IS DISTINCT FROM n.st) AS chg_st
             FROM old o FULL OUTER JOIN new n ON o.k = n.k),
       c AS (SELECT CASE WHEN adds THEN 'added'
                         WHEN rems THEN 'removed'
                         WHEN chg_pc OR chg_st THEN 'changed'
                         ELSE 'unchanged' END AS diff_status,
                    chg_pc, chg_st,
                    CASE WHEN NOT adds AND NOT rems AND chg_pc
                         THEN ABS(npc - opc) ELSE 0 END AS d
             FROM j)
       SELECT diff_status, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CASE WHEN diff_status = 'changed' AND chg_pc
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_price_changed,
              CAST(SUM(CASE WHEN diff_status = 'changed' AND chg_st
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_status_changed,
              CAST(SUM(d) AS BIGINT) AS sum_abs_delta_cents
       FROM c GROUP BY diff_status ORDER BY diff_status""",
    doc="Snapshot reconciliation / table diff (operators/diff.py:"
    "snapshot_diff_columns) — the per-column companion to d42's narrow "
    "hash-based change feed: the audit every incremental pipeline runs after "
    "an apply-changes batch (d48 SCD1, x101 SCD2): which keys were "
    "added, removed, changed in place, or untouched between two "
    "versions, with per-column change flags (null-safe <=> compare) "
    "and the total absolute price drift in exact integer cents. The "
    "two 'snapshots' are derived deterministically from orders by key "
    "arithmetic (one residue class missing from each side simulates "
    "inserts/deletes; two classes get price/status updates), so the "
    "oracle reproduces the exact same diff. ONE full-outer hash join "
    "on the key — the minimum any diff can do; with both snapshots "
    "bucketed by key at write time it is co-located and shuffle-free "
    "at 100 TB.",
)
def x107(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.diff import (
        snapshot_diff_columns,
    )

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("long")
        .alias("price_cents"),
        F.col("o_orderstatus").alias("st"),
    )
    old = base.where(F.col("k") % 23 != 3)
    new = (
        base.where(F.col("k") % 23 != 7)
        .withColumn(
            "price_cents",
            F.when(
                (F.col("k") % 23).isin(11, 13), F.col("price_cents") + 500
            ).otherwise(F.col("price_cents")),
        )
        .withColumn(
            "st",
            F.when(F.col("k") % 23 == 11, F.lit("F")).otherwise(F.col("st")),
        )
    )
    d = snapshot_diff_columns(old, new, ["k"], ["price_cents", "st"])
    chg = F.col("diff_status") == "changed"
    return (
        d.groupBy("diff_status")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(chg & F.col("chg_price_cents"), 1).otherwise(0))
            .cast("long")
            .alias("n_price_changed"),
            F.sum(F.when(chg & F.col("chg_st"), 1).otherwise(0))
            .cast("long")
            .alias("n_status_changed"),
            F.sum(
                F.when(
                    chg & F.col("chg_price_cents"),
                    F.abs(F.col("new_price_cents") - F.col("old_price_cents")),
                ).otherwise(0)
            )
            .cast("long")
            .alias("sum_abs_delta_cents"),
        )
        .orderBy("diff_status")
    )


@_q(
    "x108_winsorized_stats",
    """WITH e AS (
         SELECT event_type AS g, value AS v FROM events
         WHERE value IS NOT NULL
       ),
       vc AS (SELECT g, v, COUNT(*) AS c FROM e GROUP BY g, v),
       cm AS (SELECT g, v,
                     SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY g) AS n
              FROM vc),
       plo AS (SELECT g, MIN(v) AS p_lo FROM cm
               WHERE cum >= (n * 1 + 19) // 20 GROUP BY g),
       phi AS (SELECT g, MIN(v) AS p_hi FROM cm
               WHERE cum >= (n * 19 + 19) // 20 GROUP BY g),
       c AS (SELECT e.g, e.v, plo.p_lo, phi.p_hi,
                    LEAST(GREATEST(e.v, plo.p_lo), phi.p_hi) AS clip
             FROM e JOIN plo ON e.g = plo.g JOIN phi ON e.g = phi.g)
       SELECT g AS event_type, CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(ANY_VALUE(p_lo) + 0.0, 4) AS p_lo,
              ROUND(ANY_VALUE(p_hi) + 0.0, 4) AS p_hi,
              CAST(SUM(CASE WHEN v < p_lo THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_lo,
              CAST(SUM(CASE WHEN v > p_hi THEN 1 ELSE 0 END) AS BIGINT)
                AS n_clip_hi,
              ROUND(CAST(SUM(CAST(ROUND(clip * 1000000, 0) AS BIGINT))
                         AS DOUBLE) / 1000000.0 / COUNT(*) + 0.0, 4)
                AS w_mean
       FROM c GROUP BY g ORDER BY event_type""",
    doc="Per-group winsorization (functions/stats.py:winsorized_stats) "
    "— clamp a metric column to its group's [p05, p95] disc "
    "percentiles and report the CLIPPED mean plus clip counts: the "
    "robust pre-processing for sensor-noise tails that keeps row "
    "counts and joins intact (clip, don't drop). Quantile ranks are "
    "INTEGER fractions (ceil(n/20), ceil(19n/20) via div — no float "
    "q*n whose rounding could differ between engines), percentiles "
    "come from the grouped value histogram (cumulative window "
    "PARTITIONED by group — parallel across groups, never a global "
    "row sort), and the winsorized mean is a SCALED-INTEGER sum "
    "(each clipped value rounds once per row; the aggregate is exact "
    "BIGINT — partition-order-independent, the d49 cents convention "
    "generalized).",
)
def x108(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import (
        winsorized_stats,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    rep = winsorized_stats(ev, "event_type", "value")
    return rep.select(
        "event_type",
        "n",
        F.round(F.col("p_lo") + F.lit(0.0), 4).alias("p_lo"),
        F.round(F.col("p_hi") + F.lit(0.0), 4).alias("p_hi"),
        "n_clip_lo",
        "n_clip_hi",
        F.round(
            F.col("wsum_scaled").cast("double")
            / F.lit(1000000.0)
            / F.col("n").cast("double")
            + F.lit(0.0),
            4,
        ).alias("w_mean"),
    ).orderBy("event_type")


@_q(
    "x109_corpus_divergence",
    r"""WITH tok AS (
         SELECT source,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                  AS term
         FROM documents
         WHERE source IN ('src0', 'src1', 'src2', 'src3')
       ),
       tok2 AS (SELECT source, term FROM tok WHERE term <> ''),
       tf AS (SELECT source, term, COUNT(*) AS tf
              FROM tok2 GROUP BY source, term),
       vocab AS (SELECT DISTINCT term FROM tf),
       vv AS (SELECT COUNT(*) AS v FROM vocab),
       srcs AS (SELECT DISTINCT source FROM tf),
       tot AS (SELECT source, SUM(tf) AS n FROM tf GROUP BY source),
       grid AS (SELECT s.source, vo.term, COALESCE(tf.tf, 0) AS tf
                FROM srcs s CROSS JOIN vocab vo
                LEFT JOIN tf ON tf.source = s.source AND tf.term = vo.term),
       pr AS (SELECT g.source, g.term,
                     CAST(g.tf + 1 AS DOUBLE)
                     / CAST(tot.n + vv.v AS DOUBLE) AS p
              FROM grid g JOIN tot ON g.source = tot.source CROSS JOIN vv),
       pairs AS (SELECT a.source AS src_a, b.source AS src_b,
                        CAST(ROUND((a.p * ln(a.p / b.p)) * 1e9, 0)
                             AS BIGINT) AS cs
                 FROM pr a JOIN pr b
                   ON a.term = b.term AND a.source <> b.source)
       SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_terms,
              ROUND(CAST(SUM(cs) AS DOUBLE) / 1e9 + 0.0, 6) AS kl_nats
       FROM pairs GROUP BY src_a, src_b ORDER BY src_a, src_b""",
    doc="Corpus drift measurement: pairwise KL divergence between the "
    "add-1-smoothed unigram distributions of four sources — the "
    "mixture-monitoring statistic an LLM-data pipeline tracks when a "
    "source's content shifts (KL(a||b) in nats over the UNION "
    "vocabulary; asymmetric by design, both directions reported). "
    "Numeric discipline: each term's contribution p*ln(p/q) is a "
    "per-row double (identical single IEEE ops in both engines) "
    "rounded ONCE to 1e-9 units and summed as exact BIGINT — the "
    "scaled-integer convention that makes a sum over a 100 TB-scale "
    "vocabulary independent of partition order, where a naive double "
    "SUM would be reassociation-shaped. Pair set is a fixed config "
    "(4 sources = 12 ordered pairs) so cost never grows "
    "quadratically with the source census; the smoothed-probability "
    "grid is sources x vocabulary — vocabulary-bounded, never "
    "corpus-bounded.",
    bnlj_bounded=2,
)
def x109(spark: SparkSession, sf_dir: str) -> DataFrame:
    srcs_list = ["src0", "src1", "src2", "src3"]
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin(srcs_list)
    )
    tok = (
        docs.select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.select("term").distinct()
    vv = vocab.agg(F.count(F.lit(1)).alias("v"))
    srcs = tf.select("source").distinct()
    tot = tf.groupBy("source").agg(F.sum("tf").alias("n"))
    grid = (
        vocab.crossJoin(F.broadcast(srcs))
        .join(tf, ["source", "term"], "left")
        .withColumn("tf", F.coalesce(F.col("tf"), F.lit(0)))
    )
    pr = (
        grid.join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(vv))
        .select(
            "source",
            "term",
            (
                (F.col("tf") + 1).cast("double")
                / (F.col("n") + F.col("v")).cast("double")
            ).alias("p"),
        )
    )
    a = pr.select(
        F.col("source").alias("src_a"),
        F.col("term").alias("term"),
        F.col("p").alias("pa"),
    )
    b = pr.select(
        F.col("source").alias("src_b"),
        F.col("term").alias("term_b"),
        F.col("p").alias("pb"),
    )
    pairs = a.join(
        b,
        (F.col("term") == F.col("term_b"))
        & (F.col("src_a") != F.col("src_b")),
    ).select(
        "src_a",
        "src_b",
        F.round(
            (F.col("pa") * F.log(F.col("pa") / F.col("pb"))) * F.lit(1e9), 0
        )
        .cast("long")
        .alias("cs"),
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.round(
                F.sum("cs").cast("double") / F.lit(1e9) + F.lit(0.0), 6
            ).alias("kl_nats"),
        )
        .orderBy("src_a", "src_b")
    )


@_q(
    "x110_event_pattern_match",
    """WITH s AS (
         SELECT user_id,
                string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                  AS seq
         FROM events GROUP BY user_id
       ),
       m AS (SELECT user_id,
                    len(regexp_extract_all(seq, 'v+cp')) AS n_matches
             FROM s)
       SELECT CAST(n_matches AS BIGINT) AS n_matches,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              MIN(user_id) AS sample_user
       FROM m GROUP BY n_matches ORDER BY n_matches""",
    doc="Sequence-pattern matching over per-key event streams — the "
    "MATCH_RECOGNIZE / CEP surface expressed relationally: each "
    "user's history collapses to an ordered event-initial string "
    "(array_sort over (ts, event_id) structs -> one char per event; "
    "the oracle's ORDER BY string_agg is the same total order), and "
    "the pattern 'one or more views, then a click, then a purchase' "
    "is a regex ('v+cp') counted non-overlapping left-to-right — "
    "semantics identical across Java regex and RE2 for this POSIX "
    "subset. Complements x37's funnel (min-timestamp step chaining, "
    "no adjacency) with ADJACENCY-sensitive detection. One shuffle "
    "(user hash) + per-row regex; per-user state is one string "
    "bounded by events-per-user, the same bound any CEP engine "
    "carries.",
)
def x110(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.substring("event_type", 1, 1).alias("ini"),
    )
    s = (
        ev.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "ini"))
            ).alias("arr")
        )
        .select(
            "user_id",
            F.concat_ws(
                "", F.transform(F.col("arr"), lambda x: x["ini"])
            ).alias("seq"),
        )
    )
    m = s.select(
        "user_id",
        F.size(F.regexp_extract_all(F.col("seq"), F.lit("v+cp"), 0)).alias(
            "n_matches"
        ),
    )
    return (
        m.groupBy("n_matches")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("user_id").alias("sample_user"),
        )
        .select(
            F.col("n_matches").cast("bigint").alias("n_matches"),
            "n_users",
            "sample_user",
        )
        .orderBy("n_matches")
    )


@_q(
    "x111_trend_slope",
    """WITH e AS (
         SELECT event_type,
                CAST(ts AS DATE) AS day,
                CAST(ROUND(value * 100, 0) AS BIGINT) AS y
         FROM events WHERE value IS NOT NULL
       ),
       d0 AS (SELECT MIN(day) AS d0 FROM e),
       p AS (SELECT event_type,
                    CAST(date_diff('day', d0.d0, e.day) AS BIGINT) AS x,
                    y
             FROM e, d0),
       m AS (SELECT event_type, COUNT(*) AS n,
                    SUM(x) AS sx, SUM(y) AS sy,
                    SUM(x * x) AS sxx, SUM(x * y) AS sxy
             FROM p GROUP BY event_type)
       SELECT event_type, CAST(n AS BIGINT) AS n,
              ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) + 0.0, 6)
                AS slope_cents_per_day,
              ROUND((CAST(sy AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sxy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) + 0.0, 4)
                AS intercept_cents
       FROM m ORDER BY event_type""",
    doc="Metric drift detection: exact-moment OLS trend per event type "
    "— value (integer cents, d49 convention) regressed on day offset "
    "from the corpus's first day. The d41 discipline applied to "
    "regression: the five power sums aggregate as EXACT BIGINTs (one "
    "shuffle, map-side partials, partition-order-independent), then "
    "slope and intercept come from fixed closed-form IEEE double "
    "expressions (b1 = (n*sxy - sx*sy)/(n*sxx - sx^2), b0 = (sy*sxx "
    "- sx*sxy)/same denom) — bit-identical from laptop to 1000 "
    "executors where Spark's float-partial regr_slope is not. Day "
    "offsets keep x small (n * max(x)^2 and the cross moment stay "
    "inside BIGINT at warehouse row counts; the docstring bound d41 "
    "states applies).",
)
def x111(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
        )
    )
    d0 = ev.agg(F.min("day").alias("d0"))
    p = ev.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff("day", "d0").cast("bigint").alias("x"),
        "y",
    )
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    denom = n * sxx - sx * sx
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round((n * sxy - sx * sy) / denom + F.lit(0.0), 6).alias(
            "slope_cents_per_day"
        ),
        F.round((sy * sxx - sx * sxy) / denom + F.lit(0.0), 4).alias(
            "intercept_cents"
        ),
    ).orderBy("event_type")


@_q(
    "x112_welch_ttest",
    """WITH e AS (
         SELECT event_type,
                CAST(ROUND(value * 100, 0) AS BIGINT) AS y
         FROM events
         WHERE value IS NOT NULL AND event_type IN ('click', 'view')
       ),
       m AS (SELECT
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN event_type = 'click' THEN y ELSE 0 END) AS s1,
               SUM(CASE WHEN event_type = 'click' THEN y * y ELSE 0 END) AS ss1,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
               SUM(CASE WHEN event_type = 'view' THEN y ELSE 0 END) AS s2,
               SUM(CASE WHEN event_type = 'view' THEN y * y ELSE 0 END) AS ss2
             FROM e),
       d AS (SELECT CAST(n1 AS DOUBLE) AS n1, CAST(s1 AS DOUBLE) AS s1,
                    CAST(ss1 AS DOUBLE) AS ss1,
                    CAST(n2 AS DOUBLE) AS n2, CAST(s2 AS DOUBLE) AS s2,
                    CAST(ss2 AS DOUBLE) AS ss2
             FROM m),
       v AS (SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
                    (n1 * ss1 - s1 * s1) / (n1 * (n1 - 1.0)) / n1 AS se1,
                    (n2 * ss2 - s2 * s2) / (n2 * (n2 - 1.0)) / n2 AS se2
             FROM d)
       SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
              ROUND(m1 + 0.0, 4) AS mean1_cents,
              ROUND(m2 + 0.0, 4) AS mean2_cents,
              ROUND((m1 - m2) / sqrt(se1 + se2) + 0.0, 4) AS t_stat,
              ROUND((se1 + se2) * (se1 + se2)
                    / (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0))
                    + 0.0, 2) AS df_welch
       FROM v""",
    doc="Two-sample experimentation statistic: Welch's unequal-variance "
    "t between 'click' and 'view' value distributions (integer cents), "
    "with the Welch-Satterthwaite degrees of freedom — the A/B-test "
    "readout an experimentation platform computes per metric. Both "
    "groups' moments come from ONE conditional-sum aggregation over "
    "one scan (exact BIGINT power sums, partition-order-independent); "
    "mean/variance/t/df derive from a fixed IEEE double expression "
    "tree spelled identically in the oracle — the d41/x111 "
    "reproducibility discipline applied to inference, where float-"
    "partial variance would make the t statistic's low bits depend on "
    "partitioning.",
)
def x112(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("y"),
        )
    )
    g1 = F.col("event_type") == "click"
    g2 = F.col("event_type") == "view"
    m = ev.agg(
        F.sum(F.when(g1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(g1, F.col("y")).otherwise(0)).alias("s1"),
        F.sum(F.when(g1, F.col("y") * F.col("y")).otherwise(0)).alias("ss1"),
        F.sum(F.when(g2, 1).otherwise(0)).alias("n2"),
        F.sum(F.when(g2, F.col("y")).otherwise(0)).alias("s2"),
        F.sum(F.when(g2, F.col("y") * F.col("y")).otherwise(0)).alias("ss2"),
    )
    n1 = F.col("n1").cast("double")
    s1 = F.col("s1").cast("double")
    ss1 = F.col("ss1").cast("double")
    n2 = F.col("n2").cast("double")
    s2 = F.col("s2").cast("double")
    ss2 = F.col("ss2").cast("double")
    m1 = s1 / n1
    m2 = s2 / n2
    se1 = (n1 * ss1 - s1 * s1) / (n1 * (n1 - F.lit(1.0))) / n1
    se2 = (n2 * ss2 - s2 * s2) / (n2 * (n2 - F.lit(1.0))) / n2
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round(m1 + F.lit(0.0), 4).alias("mean1_cents"),
        F.round(m2 + F.lit(0.0), 4).alias("mean2_cents"),
        F.round((m1 - m2) / F.sqrt(se1 + se2) + F.lit(0.0), 4).alias(
            "t_stat"
        ),
        F.round(
            (se1 + se2) * (se1 + se2)
            / (
                se1 * se1 / (n1 - F.lit(1.0))
                + se2 * se2 / (n2 - F.lit(1.0))
            )
            + F.lit(0.0),
            2,
        ).alias("df_welch"),
    )


@_q(
    "x113_retraction_certified",
    """WITH e AS (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
         FROM events
         WHERE value IS NOT NULL AND user_id % 37 <> 5
       )
       SELECT event_type, day,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
       FROM e GROUP BY event_type, day
       ORDER BY event_type, day""",
    doc="Algebraic RETRACTION certified through the driver gate — the "
    "deletion-propagation story (GDPR erasure, bad-source rollback) "
    "that completes the incremental family with DELETES: x88/x100/"
    "x104 fold INSERT deltas; here the engine answers a per-(type, "
    "day) count/sum report ONLY as maintained-state MINUS the deleted "
    "cohort's delta (users with id % 37 = 5): the full-stream "
    "aggregate and the NEGATED aggregate of just the deleted users' "
    "rows fold through merge_grouped_sums, zero-count cells dropped. "
    "The oracle rebuilds from the filtered stream; the hash match "
    "certifies retraction == rebuild — the property that lets a "
    "1000-executor warehouse erase a user by scanning only that "
    "user's rows (a key-pruned read) instead of recomputing history. "
    "Exact because count/sum are abelian-group aggregates over "
    "INTEGER cents; a float sum would leave reassociation residue "
    "exactly where the certification must be exact.",
)
def x113(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    state = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )
    retract = (
        ev.where(F.col("user_id") % 37 == 5)
        .groupBy("event_type", "day")
        .agg(
            (-F.count(F.lit(1))).cast("long").alias("n"),
            (-F.sum("cents")).cast("long").alias("sum_cents"),
        )
    )
    merged = merge_grouped_sums(
        [state, retract], ["event_type", "day"], ["n", "sum_cents"]
    )
    return (
        merged.where(F.col("n") > 0)
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("event_type", "day")
    )


@_q(
    "x114_gram_matrix",
    """WITH u AS (
         SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS a
         FROM embeddings, generate_series(1, 64) t(i)
       ),
       p AS (SELECT a.i AS i, b.i AS j,
                    CAST(ROUND(a.a * b.a * 1000000, 0) AS BIGINT) AS cs
             FROM u a JOIN u b ON a.vec_id = b.vec_id)
       SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
              CAST(SUM(cs) AS BIGINT) AS g_scaled,
              ROUND(CAST(SUM(cs) AS DOUBLE) / 1000000.0 + 0.0, 6) AS g
       FROM p GROUP BY i, j ORDER BY i, j""",
    doc="Distributed Gram matrix G = sum of v v^T over the embedding "
    "corpus (functions/similarity.py:gram_partials) — the covariance "
    "primitive PCA/whitening/linear-probe training consumes. The "
    "engine runs the VECTORIZED path a 100 TB corpus requires: one "
    "Arrow-batched numpy kernel per partition folds every vector's "
    "outer product into a d x d int64 accumulator (per-element "
    "products rounded ONCE to 1e-6 units, half-away-from-zero via a "
    "sign-split floor — np.rint's half-even would diverge from SQL "
    "ROUND at dyadic .5 products), so the shuffle carries partitions "
    "x d^2 partial rows (32 KB each), never corpus x d^2 element "
    "rows. The oracle states the same sum in pure SQL (unnest self-"
    "join); the hash match certifies the numpy kernel implements the "
    "relational definition EXACTLY — integer addition makes the fold "
    "associative, so laptop and 1000-executor runs agree to the bit. "
    "The UDF-done-right showcase: Python only in the embarrassingly "
    "parallel kernel, exact algebra in the aggregate.",
)
def x114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.similarity import (
        gram_partials,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    partials = gram_partials(emb, "embedding", 64)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("g").cast("long").alias("g_scaled"))
        .select(
            F.col("i").cast("bigint").alias("i"),
            F.col("j").cast("bigint").alias("j"),
            "g_scaled",
            # 6 decimals: the true value g_scaled/1e6 sits ON the 1e-6
            # grid, so no half-way case can expose Spark's HALF_UP vs
            # DuckDB's half-even (ROUND(,4) did: ...05 midpoints)
            F.round(
                F.col("g_scaled").cast("double") / F.lit(1000000.0)
                + F.lit(0.0),
                6,
            ).alias("g"),
        )
        .orderBy("i", "j")
    )


@_q(
    "x115_markov_transitions",
    """WITH s AS (
         SELECT user_id, event_type AS cur,
                LEAD(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt
         FROM events
       ),
       p AS (SELECT cur, nxt FROM s WHERE nxt IS NOT NULL),
       c AS (SELECT cur, nxt, COUNT(*) AS n FROM p GROUP BY cur, nxt),
       t AS (SELECT cur, SUM(n) AS n_cur FROM c GROUP BY cur)
       SELECT c.cur, c.nxt, CAST(c.n AS BIGINT) AS n,
              ROUND(CAST(c.n AS DOUBLE) / CAST(t.n_cur AS DOUBLE) + 0.0, 4)
                AS p
       FROM c JOIN t ON c.cur = t.cur
       ORDER BY c.cur, c.nxt""",
    doc="First-order Markov transition matrix over per-user event "
    "streams: P(next = b | current = a) from adjacent event pairs in "
    "(ts, event_id) order — the behavioral-model summary (and anomaly "
    "baseline: a session whose transitions are improbable under this "
    "matrix is bot-shaped) that complements x110's pattern COUNTS "
    "with the full transition DISTRIBUTION. One user-hash window "
    "produces the adjacency (lead over each user's ordered stream — "
    "state bounded by events-per-user), then two tiny grouped counts; "
    "probabilities are single exact-integer divisions. 25-row output "
    "at any corpus size.",
)
def x115(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
    )
    c = pairs.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    return (
        c.join(F.broadcast(t), "cur")
        .select(
            "cur",
            "nxt",
            F.col("n").cast("bigint").alias("n"),
            F.round(
                F.col("n").cast("double") / F.col("n_cur").cast("double")
                + F.lit(0.0),
                4,
            ).alias("p"),
        )
        .orderBy("cur", "nxt")
    )


@_q(
    "x116_cusum_changepoint",
    """WITH d AS (
         SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         FROM events GROUP BY day
       ),
       t AS (SELECT SUM(c) AS total, COUNT(*) AS n_days FROM d),
       s AS (SELECT day, c,
                    SUM(c * t.n_days - t.total)
                      OVER (ORDER BY day) AS cusum_scaled,
                    t.n_days, t.total
             FROM d, t),
       m AS (SELECT MAX(ABS(cusum_scaled)) AS peak FROM s)
       SELECT day, CAST(c AS BIGINT) AS c,
              CAST(cusum_scaled AS BIGINT) AS cusum_scaled,
              (ABS(cusum_scaled) = m.peak) AS is_peak
       FROM s, m ORDER BY day""",
    doc="CUSUM changepoint scan over the daily event-count series — "
    "the monitoring primitive that flags WHEN a level shift happened "
    "(the day where the cumulative deviation from the global mean "
    "peaks splits the series into maximally different halves). "
    "Numeric discipline: the deviation is carried as the INTEGER "
    "c_t * n_days - total (= n_days * (c_t - mean), the mean cleared "
    "of its division) so the cumulative sum is exact BIGINT "
    "arithmetic end to end — no float mean, no reassociation residue, "
    "engine-exact at any scale. The only ordered window runs over "
    "DAYS (bounded by the calendar, not the corpus); peak detection "
    "is one 1-row max attach.",
)
def x116(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    t = d.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        d.crossJoin(F.broadcast(t))
        .withColumn(
            "cusum_scaled",
            F.sum(
                F.col("c") * F.col("n_days") - F.col("total")
            ).over(w),
        )
    )
    m = s.agg(F.max(F.abs(F.col("cusum_scaled"))).alias("peak"))
    return (
        s.crossJoin(F.broadcast(m))
        .select(
            "day",
            F.col("c").cast("bigint").alias("c"),
            F.col("cusum_scaled").cast("bigint").alias("cusum_scaled"),
            (F.abs(F.col("cusum_scaled")) == F.col("peak")).alias("is_peak"),
        )
        .orderBy("day")
    )


def _x117_oracle() -> str:
    from deepcell_data_engineering_spark.relational.queries import (
        QUERIES as _REG,
    )

    edges_sql = _REG["x06_minhash_lsh_pairs"].oracle
    return f"""
    WITH e AS ({edges_sql}),
    sym AS (SELECT id_a AS u, id_b AS v FROM e
            UNION ALL SELECT id_b, id_a FROM e),
    deg AS (SELECT u, COUNT(*) AS deg FROM sym GROUP BY u),
    inter AS (SELECT e1.u AS a, e2.v AS c, COUNT(*) AS inter
              FROM sym e1 JOIN sym e2 ON e1.v = e2.u AND e1.u < e2.v
              GROUP BY a, c),
    cand AS (SELECT i.a, i.c, i.inter
             FROM inter i LEFT JOIN e ON e.id_a = i.a AND e.id_b = i.c
             WHERE e.id_a IS NULL)
    SELECT cand.a, cand.c, CAST(cand.inter AS BIGINT) AS inter,
           CAST(da.deg AS BIGINT) AS deg_a, CAST(dc.deg AS BIGINT) AS deg_c,
           ROUND(CAST(cand.inter AS DOUBLE)
                 / CAST(da.deg + dc.deg - cand.inter AS DOUBLE) + 0.0, 6)
             AS jaccard
    FROM cand JOIN deg da ON da.u = cand.a JOIN deg dc ON dc.u = cand.c
    ORDER BY jaccard DESC, a, c LIMIT 20"""


@_q(
    "x117_link_prediction",
    _x117_oracle(),
    doc="Common-neighbor link prediction over the LSH candidate graph "
    "— the graph-ML primitive behind 'you probably also duplicate "
    "THIS doc': for every distance-2 pair (a, c) NOT already an edge, "
    "the neighbor-Jaccard |N(a) n N(c)| / |N(a) u N(c)|, top-20 by "
    "score. Near-dup clusters are transitively closed in truth, so "
    "high-scoring non-edges are candidates LSH banding missed "
    "(recall repair without re-hashing — complements x70's "
    "reachability and x21's components with a RANKED frontier). "
    "Scale shape: one wedge self-join of the symmetrized edge list "
    "(bounded by sum of squared degrees — the x67 triangle bound; "
    "hub caps in functions/graph.py apply upstream), per-pair "
    "arithmetic after two broadcast degree attaches, and the LIMIT "
    "rides the ROUNDED score with (a, c) tie-breaks so the float "
    "sort is selection-stable cross-engine. Edges come from x06's "
    "certified pair query (engine composition; embedded CTE in the "
    "oracle).",
)
def x117(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    sym = edges.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ).unionByName(
        edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    e1 = sym.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = sym.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    inter = (
        e1.join(e2, F.col("b") == F.col("b2"))
        .where(F.col("a") < F.col("c"))
        .groupBy("a", "c")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    cand = inter.join(
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c")),
        ["a", "c"],
        "left_anti",
    )
    j = cand.join(
        F.broadcast(deg.select(F.col("u").alias("a"), F.col("deg").alias("deg_a"))),
        "a",
    ).join(
        F.broadcast(deg.select(F.col("u").alias("c"), F.col("deg").alias("deg_c"))),
        "c",
    )
    return (
        j.select(
            "a",
            "c",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("deg_a").cast("bigint").alias("deg_a"),
            F.col("deg_c").cast("bigint").alias("deg_c"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("deg_a") + F.col("deg_c") - F.col("inter")).cast(
                    "double"
                )
                + F.lit(0.0),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "a", "c")
        .limit(20)
    )


def _x118_oracle() -> str:
    srp = _srp_oracle(dim=EMB_DIM, n_planes=6, k=10, n_queries=10)
    return f"""
    WITH qv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id < 10),
    cv AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
      SELECT qv.vec_id AS query_id, cv.vec_id AS neighbor_id,
             list_dot_product(qv.v, cv.v)
               / (sqrt(list_dot_product(qv.v, qv.v))
                  * sqrt(list_dot_product(cv.v, cv.v))) AS s
      FROM qv JOIN cv ON qv.vec_id != cv.vec_id
    ),
    ex AS (SELECT query_id, neighbor_id, rank AS re FROM (
             SELECT query_id, neighbor_id,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY s DESC, neighbor_id) AS rank
             FROM scored) WHERE rank <= 10),
    ap AS (SELECT query_id, neighbor_id, rank AS rs FROM ({srp})),
    f AS (SELECT query_id, neighbor_id,
                 COALESCE(1e0 / (60 + ex.re), 0e0)
                 + COALESCE(1e0 / (60 + ap.rs), 0e0) AS score
          FROM ex FULL JOIN ap USING (query_id, neighbor_id)),
    r AS (SELECT query_id, neighbor_id, ROUND(score + 0.0, 6) AS rrf,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY ROUND(score + 0.0, 6) DESC,
                                             neighbor_id) AS fused_rank
          FROM f)
    SELECT query_id, CAST(fused_rank AS BIGINT) AS fused_rank,
           neighbor_id, rrf
    FROM r WHERE fused_rank <= 3 ORDER BY query_id, fused_rank"""


@_q(
    "x118_rrf_fusion",
    _x118_oracle(),
    doc="Reciprocal-rank fusion of two retrieval lists — the hybrid-"
    "search combiner (exact/dense + SRP-LSH here; BM25 + dense in a "
    "text stack): per (query, candidate), score = sum over lists of "
    "1/(60 + rank), full-outer so a candidate surfaced by EITHER "
    "ranker competes, top-3 per query by the ROUNDED fused score "
    "with neighbor-id tie-breaks (selection-stable float sort under "
    "LIMIT). RRF needs only RANKS — no score calibration between "
    "heterogeneous rankers — which is exactly why it is the default "
    "fusion in production hybrid retrieval. Composes x09's exact "
    "top-10 and x11's SRP top-10 (both already certified); each "
    "1/(60+r) is a single exact IEEE division, so the fused score "
    "is engine-reproducible. At scale both inputs are k-row-per-"
    "query relations — fusion cost is rank-bounded, independent of "
    "corpus size.",
    bnlj_bounded=1,
)
def x118(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = sim.cosine_topk(emb, q, k=10).select(
        "query_id", "neighbor_id", F.col("rank").alias("re")
    )
    approx = sim.lsh_topk(emb, q, dim=EMB_DIM, k=10, n_planes=6).select(
        "query_id", "neighbor_id", F.col("rank").alias("rs")
    )
    f = exact.join(
        approx, ["query_id", "neighbor_id"], "full_outer"
    ).select(
        "query_id",
        "neighbor_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("re")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rs")), F.lit(0.0))
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("score") + F.lit(0.0), 6).desc(), "neighbor_id"
    )
    return (
        f.withColumn("fused_rank", F.row_number().over(w))
        .where(F.col("fused_rank") <= 3)
        .select(
            "query_id",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
            "neighbor_id",
            F.round(F.col("score") + F.lit(0.0), 6).alias("rrf"),
        )
        .orderBy("query_id", "fused_rank")
    )


@_q(
    "x119_ivm_join_delta",
    """WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders),
       l AS (SELECT l_orderkey,
                    CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents
             FROM lineitem)
       SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
       FROM o JOIN l ON l.l_orderkey = o.o_orderkey
       GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    doc="Incremental view maintenance of an aggregated JOIN — the "
    "materialized-view delta rule Delta(A JOIN B) = dA JOIN B_new "
    "UNION A_old JOIN dB, certified through the driver gate. The "
    "engine answers the per-priority revenue view ONLY as state + "
    "deltas: base state over (orders_old JOIN lineitem_old), plus the "
    "aggregate of dO JOIN lineitem_full, plus O_old JOIN dL (dO = "
    "orderkeys = 3 mod 13, dL = suppkeys = 4 mod 11 — independent "
    "splits so every factor-pair term appears exactly once), folded "
    "through merge_grouped_sums over integer cents. The oracle "
    "rebuilds from the full join; the hash match proves maintenance "
    "== rebuild, extending the incremental family (x88 KMV, x100 CMS, "
    "x104 reservoir, x113 retraction) from single-table aggregates to "
    "JOINS — the property that lets a 100 TB warehouse refresh a join "
    "view by joining only the micro-batch against the base (delta "
    "sides broadcast — micro-batch-sized by contract), never "
    "re-joining old against old. Exact because count/sum over BIGINT "
    "cents are abelian-group states.",
)
def x119(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_suppkey"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
    )
    is_do = F.col("o_orderkey") % 13 == 3
    is_dl = F.col("l_suppkey") % 11 == 4
    o_old, d_o = o.where(~is_do), o.where(is_do)
    l_old, d_l = li.where(~is_dl), li.where(is_dl)

    def _agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )

    state = _agg(
        o_old.join(l_old, o_old.o_orderkey == l_old.l_orderkey)
    )
    d1 = _agg(
        F.broadcast(d_o).join(li, d_o.o_orderkey == li.l_orderkey)
    )
    d2 = _agg(
        o_old.join(F.broadcast(d_l), o_old.o_orderkey == d_l.l_orderkey)
    )
    return (
        merge_grouped_sums(
            [state, d1, d2], ["o_orderpriority"], ["n", "sum_cents"]
        )
        .select(
            "o_orderpriority",
            F.col("n").cast("bigint").alias("n"),
            F.col("sum_cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x120_session_incident_overlap",
    """WITH flagged AS (
         SELECT user_id, ts,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
       ),
       sess0 AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged
       ),
       sess AS (
         SELECT user_id, epoch_us(MIN(ts)) AS s_start,
                epoch_us(MAX(ts) + INTERVAL 30 MINUTE) AS s_end
         FROM sess0 GROUP BY user_id, sid
       ),
       inc AS (
         SELECT event_id, epoch_us(ts) - 300000000 AS i_start,
                epoch_us(ts) + 300000000 AS i_end
         FROM events WHERE event_type = 'error'
       )
       SELECT user_id,
              CAST(COUNT(DISTINCT s_start) AS BIGINT) AS n_sessions_hit,
              CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_incidents
       FROM sess JOIN inc ON s_start <= i_end AND i_start <= s_end
       GROUP BY user_id ORDER BY user_id""",
    doc="Interval-interval overlap join at warehouse scale: which user "
    "sessions (x17's session_window intervals, [first event, last + "
    "30 min]) overlapped platform incident windows (error events +/- "
    "5 min) — the blast-radius report an SRE pipeline runs after an "
    "outage. The engine uses operators/joins.py:interval_overlap_join "
    "— BUCKET DECOMPOSITION: both interval sets explode to 30-min "
    "epoch buckets (integer fan-out ~ interval/bucket + 1), a plain "
    "hash EQUI-join on bucket id replaces the range join (a pure "
    "inequality join plans BroadcastNestedLoopJoin — O(|L| x |R|) at "
    "100 TB), the true overlap predicate re-checks candidates, and "
    "pairs sharing several buckets are kept only in the FIRST shared "
    "bucket — deduplication by arithmetic, no distinct shuffle. The "
    "oracle states the direct inequality join; the hash match "
    "certifies the decomposition loses and invents nothing.",
)
def x120(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.joins import (
        interval_overlap_join,
    )

    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("s_start"),
            F.unix_micros(F.col("w.end")).alias("s_end"),
        )
    )
    inc = (
        ev.where(F.col("event_type") == "error")
        .select(
            "event_id",
            (F.unix_micros(F.col("ts")) - F.lit(300_000_000)).alias(
                "i_start"
            ),
            (F.unix_micros(F.col("ts")) + F.lit(300_000_000)).alias(
                "i_end"
            ),
        )
    )
    pairs = interval_overlap_join(
        sess, inc, "s_start", "s_end", "i_start", "i_end",
        bucket=1_800_000_000,
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.countDistinct("s_start").cast("bigint").alias(
                "n_sessions_hit"
            ),
            F.countDistinct("event_id").cast("bigint").alias(
                "n_incidents"
            ),
        )
        .orderBy("user_id")
    )


@_q(
    "x121_cube_report",
    """SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL'
                   ELSE COALESCE(event_type, '(null)') END AS etype,
              CASE WHEN GROUPING(isodow(CAST(ts AS DATE))) = 1 THEN 'ALL'
                   ELSE COALESCE(
                       CAST(isodow(CAST(ts AS DATE)) AS VARCHAR),
                       '(null)') END AS dow,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))::BIGINT
                   AS BIGINT) AS sum_cents
       FROM events
       GROUP BY CUBE (event_type, isodow(CAST(ts AS DATE)))
       ORDER BY etype, dow""",
    doc="CUBE over (event_type, ISO day-of-week) — all four grouping "
    "sets (full, by-type, by-dow, grand total) in ONE pass, completing "
    "the multi-granularity family (d20 ROLLUP, d21 GROUPING SETS, x69 "
    "sketch rollup). Spark expands the cube map-side (Expand node: 4 "
    "copies of each row, partial-aggregated before the shuffle), so "
    "the shuffled volume is 4 x |groups|, not 4 x |rows| — the "
    "dashboard-materialization shape at 100 TB. Cross-engine traps "
    "pinned: DuckDB dayofweek is Sunday=0 while Spark's is Sunday=1, "
    "so both sides use ISO (Spark weekday()+1 == DuckDB isodow); "
    "integer cents rounded once per row before the sum; subtotal rows "
    "labeled via GROUPING() — not by coalescing the grouped value — "
    "so a genuinely NULL event_type ('(null)') can never collide with "
    "the 'ALL' subtotal (ADVICE r7).",
)
def x121(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (F.weekday(F.col("ts").cast("date")) + 1).alias("dow_i"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    return (
        ev.cube("event_type", "dow_i")
        .agg(
            # grouping() is only legal inside the cube's agg list
            F.grouping("event_type").cast("int").alias("g_et"),
            F.grouping("dow_i").cast("int").alias("g_dow"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.when(F.col("g_et") == 1, F.lit("ALL"))
            .otherwise(F.coalesce(F.col("event_type"), F.lit("(null)")))
            .alias("etype"),
            F.when(F.col("g_dow") == 1, F.lit("ALL"))
            .otherwise(
                F.coalesce(F.col("dow_i").cast("string"), F.lit("(null)"))
            )
            .alias("dow"),
            "n",
            "sum_cents",
        )
        .orderBy("etype", "dow")
    )


@_q(
    "x122_ntile_deciles",
    """WITH t AS (
         SELECT o_custkey,
                CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     ::BIGINT AS BIGINT) AS cents
         FROM orders GROUP BY o_custkey
       ),
       d AS (
         SELECT o_custkey, cents,
                NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
         FROM t
       )
       SELECT CAST(decile AS BIGINT) AS decile,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(MIN(cents) AS BIGINT) AS min_cents,
              CAST(MAX(cents) AS BIGINT) AS max_cents,
              CAST(SUM(cents)::BIGINT AS BIGINT) AS sum_cents
       FROM d GROUP BY decile ORDER BY decile""",
    doc="Customer-spend decile report via NTILE(10) — the "
    "segmentation primitive (equal-population bands, remainder to the "
    "first buckets per ANSI, identical in Spark and DuckDB) behind "
    "'top decile drives X% of revenue'. Deterministic under ties by "
    "the (cents, custkey) sort. Scale shape: the only global window "
    "runs over the per-CUSTOMER aggregate — customers are orders of "
    "magnitude fewer than orders, and the heavy lifting (the spend "
    "sum) is a plain hash aggregate; for a window over raw fact rows "
    "use x63's histogram quantiles instead.",
)
def x122(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    d = t.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.min("cents").cast("bigint").alias("min_cents"),
            F.max("cents").cast("bigint").alias("max_cents"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "n_customers", "min_cents", "max_cents", "sum_cents",
        )
        .orderBy("decile")
    )


@_q(
    "x123_expectations_report",
    """WITH ri AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS rows_checked,
                CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0
                         END)::BIGINT AS BIGINT) AS violations
         FROM lineitem l LEFT JOIN orders o
           ON l.l_orderkey = o.o_orderkey
       ),
       ord AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST((COUNT(*) - COUNT(DISTINCT o_orderkey)) AS BIGINT)
                  AS dup_pk,
                CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                              THEN 1 ELSE 0 END)::BIGINT AS BIGINT)
                  AS bad_status,
                CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0
                         END)::BIGINT AS BIGINT) AS null_date
         FROM orders
       ),
       li AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                              THEN 1 ELSE 0 END)::BIGINT AS BIGINT)
                  AS bad_qty,
                CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                              THEN 1 ELSE 0 END)::BIGINT AS BIGINT)
                  AS bad_disc
         FROM lineitem
       ),
       doc AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN text IS NULL
                                   OR length(trim(text)) = 0
                              THEN 1 ELSE 0 END)::BIGINT AS BIGINT)
                  AS empty_text
         FROM documents
       ),
       u AS (
         SELECT 'orders' AS tbl, 'pk_unique' AS check_name,
                n AS rows_checked, dup_pk AS violations FROM ord
         UNION ALL
         SELECT 'orders', 'status_in_domain', n, bad_status FROM ord
         UNION ALL
         SELECT 'orders', 'orderdate_complete', n, null_date FROM ord
         UNION ALL
         SELECT 'lineitem', 'quantity_in_range', n, bad_qty FROM li
         UNION ALL
         SELECT 'lineitem', 'discount_in_range', n, bad_disc FROM li
         UNION ALL
         SELECT 'lineitem', 'orderkey_ri', rows_checked, violations
         FROM ri
         UNION ALL
         SELECT 'documents', 'text_nonempty', n, empty_text FROM doc
       )
       SELECT tbl, check_name, rows_checked, violations,
              (violations = 0) AS pass
       FROM u ORDER BY tbl, check_name""",
    doc="Data-quality expectation suite (the Deequ/Great-Expectations "
    "surface): per-constraint rows-checked / violation counts / "
    "pass over three tables — primary-key uniqueness, domain "
    "membership, completeness, numeric range, referential integrity, "
    "non-empty text. Every single-table constraint family resolves in "
    "ONE conditional-sum aggregation per table (no per-constraint "
    "rescans — the 100 TB requirement); the RI check is the one "
    "necessary join, a plain hash left-join on the key whose null "
    "side counts orphans. The report is certified, not assumed: "
    "violation counts hash-match the oracle whether or not the data "
    "is clean.",
)
def x123(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    docs = load_table(spark, sf_dir, "documents")

    ord_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "dup_pk"
        ),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1)
            .otherwise(0)
        ).alias("bad_status"),
        F.sum(
            F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)
        ).alias("null_date"),
    )
    li_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
            ).otherwise(0)
        ).alias("bad_qty"),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
                1,
            ).otherwise(0)
        ).alias("bad_disc"),
    )
    ri = (
        li.select("l_orderkey")
        .join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("rows_checked"),
            F.sum(
                F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)
            ).alias("violations"),
        )
    )
    doc_agg = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("text").isNull()
                | (F.length(F.trim(F.col("text"))) == 0),
                1,
            ).otherwise(0)
        ).alias("empty_text"),
    )

    def _row(src: DataFrame, tbl: str, name: str, n_col: str,
             v_col: str) -> DataFrame:
        return src.select(
            F.lit(tbl).alias("tbl"),
            F.lit(name).alias("check_name"),
            F.col(n_col).cast("bigint").alias("rows_checked"),
            F.col(v_col).cast("bigint").alias("violations"),
        )

    report = (
        _row(ord_agg, "orders", "pk_unique", "n", "dup_pk")
        .unionByName(_row(ord_agg, "orders", "status_in_domain", "n",
                          "bad_status"))
        .unionByName(_row(ord_agg, "orders", "orderdate_complete", "n",
                          "null_date"))
        .unionByName(_row(li_agg, "lineitem", "quantity_in_range", "n",
                          "bad_qty"))
        .unionByName(_row(li_agg, "lineitem", "discount_in_range", "n",
                          "bad_disc"))
        .unionByName(_row(ri, "lineitem", "orderkey_ri", "rows_checked",
                          "violations"))
        .unionByName(_row(doc_agg, "documents", "text_nonempty", "n",
                          "empty_text"))
    )
    return report.withColumn(
        "pass", F.col("violations") == 0
    ).orderBy("tbl", "check_name")


@_q(
    "x124_unpivot_metrics",
    """WITH wide AS (
         SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(COALESCE(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)),
                              0)::BIGINT AS BIGINT) AS sum_cents,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM events GROUP BY event_type
       )
       SELECT event_type, metric, val
       FROM (UNPIVOT wide ON n, sum_cents, n_users
             INTO NAME metric VALUE val)
       ORDER BY event_type, metric""",
    doc="UNPIVOT (wide-to-long melt) of a per-type metrics block — the "
    "reshape inverse of d31's PIVOT, closing the reshape pair: metric "
    "registries, feature stores and plotting layers all consume the "
    "long form. Engine side is Spark's native DataFrame.unpivot "
    "(Expand node — per-row fan-out of metric columns, map-side only, "
    "no shuffle beyond the upstream aggregate); values are cast to "
    "one BIGINT type first, the unpivot contract. The melt happens "
    "AFTER aggregation, so the long relation is metrics x types "
    "rows regardless of corpus size.",
)
def x124(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.coalesce(
                F.sum(
                    F.round(F.col("value") * 100, 0).cast("bigint")
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("sum_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
    )
    return (
        wide.unpivot(
            ["event_type"], ["n", "sum_cents", "n_users"], "metric", "val"
        )
        .orderBy("event_type", "metric")
    )


@_q(
    "x125_trailing_zscore",
    """WITH d AS (
         SELECT CAST(ts AS DATE) AS day, COUNT(*) AS c
         FROM events GROUP BY day
       ),
       w AS (
         SELECT day, c,
                COUNT(*) OVER tw AS n7,
                SUM(c) OVER tw AS s7,
                SUM(c * c) OVER tw AS ss7
         FROM d
         WINDOW tw AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                                          AND 1 PRECEDING)
       ),
       z AS (
         SELECT day, c,
                CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) AS mean7,
                (CAST(n7 AS DOUBLE) * CAST(ss7 AS DOUBLE)
                 - CAST(s7 AS DOUBLE) * CAST(s7 AS DOUBLE))
                / (CAST(n7 AS DOUBLE) * (CAST(n7 AS DOUBLE) - 1.0))
                  AS var7
         FROM w WHERE n7 = 7
       )
       SELECT day, CAST(c AS BIGINT) AS c,
              ROUND(mean7 + 0.0, 4) AS mean7,
              ROUND(CASE WHEN var7 > 0
                         THEN (CAST(c AS DOUBLE) - mean7) / sqrt(var7)
                         END + 0.0, 4) AS z,
              (var7 > 0 AND
               ABS((CAST(c AS DOUBLE) - mean7) / sqrt(var7)) >= 2.0)
                AS is_anomaly
       FROM z ORDER BY day""",
    doc="Trailing-window anomaly monitor: each day's event count "
    "scored as a z-statistic against the PRECEDING 7 days' mean and "
    "sample variance (the current day excluded from its own baseline "
    "— the leakage mistake naive monitors make), |z| >= 2 flagged. "
    "Complements x116: CUSUM locates the single level shift in "
    "retrospect; this is the per-day online alarm. Numeric "
    "discipline: the rolling state is integer (count, sum, sum-of-"
    "squares) window sums — exact BIGINT — and mean/var/z derive "
    "through one fixed IEEE expression tree spelled identically in "
    "the oracle (x111/x112's d41 discipline); zero-variance windows "
    "yield NULL z, never a division blow-up. The ordered window runs "
    "over DAYS — calendar-bounded state at any corpus size.",
)
def x125(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("c")
    )
    tw = Window.orderBy("day").rowsBetween(-7, -1)
    w = d.select(
        "day",
        "c",
        F.count(F.lit(1)).over(tw).alias("n7"),
        F.sum("c").over(tw).alias("s7"),
        F.sum(F.col("c") * F.col("c")).over(tw).alias("ss7"),
    ).where(F.col("n7") == 7)
    n7 = F.col("n7").cast("double")
    s7 = F.col("s7").cast("double")
    ss7 = F.col("ss7").cast("double")
    cd = F.col("c").cast("double")
    mean7 = s7 / n7
    var7 = (n7 * ss7 - s7 * s7) / (n7 * (n7 - F.lit(1.0)))
    zexpr = F.when(var7 > 0, (cd - mean7) / F.sqrt(var7))
    return w.select(
        "day",
        F.col("c").cast("bigint").alias("c"),
        F.round(mean7 + F.lit(0.0), 4).alias("mean7"),
        F.round(zexpr + F.lit(0.0), 4).alias("z"),
        ((var7 > 0) & (F.abs(zexpr) >= 2.0)).alias("is_anomaly"),
    ).orderBy("day")


@_q(
    "x126_bag_set_ops",
    """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
                  WHERE l_returnflag = 'R'),
       b AS (SELECT CAST(l_quantity AS BIGINT) AS q FROM lineitem
             WHERE l_returnflag = 'A'),
       i AS (SELECT q, COUNT(*) AS n_intersect
             FROM (SELECT q FROM a INTERSECT ALL SELECT q FROM b)
             GROUP BY q),
       e AS (SELECT q, COUNT(*) AS n_except
             FROM (SELECT q FROM a EXCEPT ALL SELECT q FROM b)
             GROUP BY q)
       SELECT COALESCE(i.q, e.q) AS q,
              CAST(COALESCE(n_intersect, 0) AS BIGINT) AS n_intersect,
              CAST(COALESCE(n_except, 0) AS BIGINT) AS n_except
       FROM i FULL JOIN e ON i.q = e.q ORDER BY q""",
    doc="Bag-semantics set operations — INTERSECT ALL (per-value "
    "multiplicity = min of the two sides) and EXCEPT ALL "
    "(multiplicity = max(0, a - b)) between the returned and "
    "annulled quantity multisets, completing the set-op family "
    "(d26/d27 cover the DISTINCT forms, whose dedup loses exactly "
    "the multiplicity information bag analytics needs). Spark plans "
    "both as a grouped count + generate (replicate rows) — two hash "
    "aggregates, no sort, no join of the raw sides; the verification "
    "invariant n_intersect = least(count_a, count_b) per value is "
    "what the oracle's identical formulation certifies.",
)
def x126(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_quantity").cast("bigint").alias("q")
    )
    b = li.where(F.col("l_returnflag") == "A").select(
        F.col("l_quantity").cast("bigint").alias("q")
    )
    i = (
        a.intersectAll(b)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_intersect"))
    )
    e = (
        a.exceptAll(b)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_except"))
    )
    return (
        i.withColumnRenamed("q", "qi")
        .join(e.withColumnRenamed("q", "qe"),
              F.col("qi") == F.col("qe"), "full_outer")
        .select(
            F.coalesce(F.col("qi"), F.col("qe")).alias("q"),
            F.coalesce(F.col("n_intersect"), F.lit(0))
            .cast("bigint")
            .alias("n_intersect"),
            F.coalesce(F.col("n_except"), F.lit(0))
            .cast("bigint")
            .alias("n_except"),
        )
        .orderBy("q")
    )


@_q(
    "x127_time_travel_audit",
    """WITH m AS (SELECT doc_id % 3 AS m3, source, n_chars
                  FROM documents)
       SELECT 0 AS version, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
              CAST(SUM(n_chars)::BIGINT AS BIGINT) AS sum_chars
       FROM m WHERE m3 = 0
       UNION ALL
       SELECT 1, CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(DISTINCT source) AS BIGINT),
              CAST(SUM(n_chars)::BIGINT AS BIGINT)
       FROM m WHERE m3 IN (0, 1)
       UNION ALL
       SELECT 2, CAST(COUNT(*) AS BIGINT),
              CAST(COUNT(DISTINCT source) AS BIGINT),
              CAST(SUM(n_chars)::BIGINT AS BIGINT)
       FROM m WHERE m3 = 2
       ORDER BY version""",
    doc="Time travel certified through the driver gate: the corpus is "
    "committed to a manifest-logged snapshot table (sources/"
    "snapshots.py) as three versions — v0 append (residue-0 docs), v1 "
    "append (residue-1), v2 OVERWRITE (residue-2) — and the report "
    "reads every HISTORICAL version back through read_snapshot, "
    "auditing (n_docs, n_sources, sum_chars) per version. The oracle "
    "recomputes each version from its logical definition, so the hash "
    "match certifies the whole commit/manifest/time-travel round trip "
    "on real data: v0's answer must survive both the later append and "
    "the overwrite (immutable history), v1 must be the union, v2 only "
    "its own commit. Scale shape: commits and per-version scans are "
    "ordinary distributed parquet jobs; only the 3-row audit report "
    "and the KB-sized manifests are driver state (the catalog-layer "
    "convention) — the versioned data lives in a private temp table "
    "removed after the scans complete.",
)
def x127(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = tempfile.mkdtemp(prefix="dde_snapshot_audit_")
    try:
        snap.commit(spark, docs.where(F.col("doc_id") % 3 == 0), t)
        snap.commit(
            spark, docs.where(F.col("doc_id") % 3 == 1), t, mode="append"
        )
        snap.commit(
            spark, docs.where(F.col("doc_id") % 3 == 2), t, mode="overwrite"
        )
        rows = []
        for v in range(3):
            r = (
                snap.read_snapshot(spark, t, v)
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_docs"),
                    F.countDistinct("source").cast("long").alias(
                        "n_sources"
                    ),
                    F.sum("n_chars").cast("long").alias("sum_chars"),
                )
                .collect()[0]
            )
            rows.append((v, r["n_docs"], r["n_sources"], r["sum_chars"]))
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows,
        "version BIGINT, n_docs BIGINT, n_sources BIGINT, sum_chars BIGINT",
    ).orderBy("version")


@_q(
    "x128_format_interop",
    """WITH base AS (
         SELECT event_id, user_id, event_type,
                CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
         FROM events WHERE value IS NOT NULL
       ),
       agg AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
                CAST(SUM(cents)::BIGINT AS BIGINT) AS sum_cents,
                CAST(MIN(event_id) AS BIGINT) AS min_id,
                CAST(MAX(event_id) AS BIGINT) AS max_id
         FROM base
       )
       SELECT fmt, n, n_users, sum_cents, min_id, max_id
       FROM (VALUES ('csv'), ('jsonl'), ('orc'), ('parquet')) f(fmt),
            agg
       ORDER BY fmt""",
    doc="Interchange-format round trip certified through the driver "
    "gate: the event stream (integer-cents projection) is written "
    "through every corpus connector (sources/corpus.py write_jsonl / "
    "write_csv / write_orc and native parquet) into a private temp "
    "table, read back through the matching schema-pinned reader, and "
    "re-aggregated per format. The oracle computes the SAME five "
    "metrics once from the source table and asserts them for every "
    "format row — so any value mangled in transit (CSV quoting, JSON "
    "number formatting, a type widened by inference) breaks the hash. "
    "Scale notes baked into the connectors and re-checked here: "
    "explicit schemas (no inference pass), no coalesce(1) (files per "
    "task), line formats kept splittable. Catalog convention: the "
    "four 1-row aggregates are driver state; writes and scans are "
    "ordinary distributed jobs on a temp table removed afterwards.",
)
def x128(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import corpus as cps

    schema = (
        "event_id BIGINT, user_id BIGINT, event_type STRING, cents BIGINT"
    )
    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    t = tempfile.mkdtemp(prefix="dde_interop_")
    rows = []
    try:
        writers = {
            "jsonl": lambda: cps.write_jsonl(base, os.path.join(t, "jsonl")),
            "csv": lambda: cps.write_csv(base, os.path.join(t, "csv")),
            "orc": lambda: cps.write_orc(base, os.path.join(t, "orc")),
            "parquet": lambda: base.write.mode("overwrite").parquet(
                os.path.join(t, "parquet")
            ),
        }
        readers = {
            "jsonl": lambda: cps.read_jsonl(
                spark, os.path.join(t, "jsonl"), schema
            ).drop("_corrupt"),
            "csv": lambda: cps.read_csv(
                spark, os.path.join(t, "csv"), schema
            ),
            "orc": lambda: cps.read_orc(spark, os.path.join(t, "orc")),
            "parquet": lambda: spark.read.schema(schema).parquet(
                os.path.join(t, "parquet")
            ),
        }

        # the four format pipelines are INDEPENDENT — run each
        # write-then-read-back on its own driver thread so the next
        # format's tasks back-fill executors freed by the previous
        # one's tail (optimization guide §2.6: actions are only
        # sequential because the driver calls them sequentially).
        # Results are keyed by format and emitted in sorted order, so
        # scheduling order cannot reach the output.
        def _roundtrip(fmt: str):
            writers[fmt]()
            r = (
                readers[fmt]()
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n"),
                    F.countDistinct("user_id").cast("long").alias(
                        "n_users"
                    ),
                    F.sum("cents").cast("long").alias("sum_cents"),
                    F.min("event_id").cast("long").alias("min_id"),
                    F.max("event_id").cast("long").alias("max_id"),
                )
                .collect()[0]
            )
            return (
                fmt, r["n"], r["n_users"], r["sum_cents"], r["min_id"],
                r["max_id"],
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as pool:
            rows = sorted(pool.map(_roundtrip, sorted(readers)))
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows,
        "fmt STRING, n BIGINT, n_users BIGINT, sum_cents BIGINT, "
        "min_id BIGINT, max_id BIGINT",
    ).orderBy("fmt")


@_q(
    "x129_pretokenize_vocab",
    r"""WITH tok AS (
         SELECT doc_id, unnest(regexp_extract_all(text,
           '''(?:s|t|re|ve|m|ll|d)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}'']+|\s+'
         )) AS tok
         FROM documents
       )
       SELECT tok, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
       FROM tok GROUP BY tok
       ORDER BY n DESC, tok LIMIT 25""",
    doc="BPE-style PRE-tokenization vocabulary (functions/text.py:"
    "pretokenize): the corpus segmented by the GPT-2-shaped pattern "
    "(contraction suffixes, space-prefixed letter/digit/punctuation "
    "runs, whitespace runs), top-25 pre-tokens by frequency with "
    "document frequency — the segmentation stage that feeds x68's BPE "
    "merge training (merges never cross pre-token boundaries; "
    "space-prefixed tokens are why GPT-2 vocabularies contain ' the'). "
    "The pattern is pinned to the Java-regex ∩ RE2 intersection (no "
    "lookahead) so Spark and DuckDB segment IDENTICALLY — certified "
    "here token-for-token, count-for-count. Plan: one regexp "
    "generator over the scan into a grouped count — the x46 "
    "heavy-hitter shape, two partial aggs + TakeOrdered, no sort of "
    "the token stream.",
)
def x129(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id", F.explode(tx.pretokenize(F.col("text"))).alias("tok")
        )
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("doc_id").cast("bigint").alias("df"),
        )
        .orderBy(F.desc("n"), "tok")
        .limit(25)
    )


@_q(
    "x130_table_checksum",
    """WITH r AS (
         SELECT ('0x' || substr(md5(
                  o_orderkey || '|' || o_custkey || '|' || o_orderstatus
                  || '|' || CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                  || '|' || CAST(o_orderdate AS VARCHAR)
                  || '|' || o_orderpriority), 1, 7))::BIGINT AS h
         FROM orders
       )
       SELECT CAST(h % 64 AS BIGINT) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(h)::BIGINT AS BIGINT) AS checksum
       FROM r GROUP BY bucket ORDER BY bucket""",
    doc="Anti-entropy table fingerprint — the replica-reconciliation "
    "primitive: every row canonicalized to a string, md5-28bit hashed, "
    "and folded into 64 per-bucket (row-count, hash-sum) cells. Two "
    "replicas (or a table before/after a migration) compare the "
    "64-row summaries; a divergent cell pinpoints 1/64th of the hash "
    "space to re-scan — at 100 TB you find the drifted rows by "
    "exchanging KILOBYTES, not by a full-table join (the Merkle/"
    "anti-entropy idea from Dynamo-style replication, flattened to "
    "one level). Exactness: integer hash SUM is an abelian fold "
    "(partition-order invariant, no float residue) and 28-bit hashes "
    "over any realistic bucket count stay far below int64 overflow; "
    "md5 makes the cell values engine-portable (certified here "
    "against DuckDB computing the same fingerprint). One scan, one "
    "64-group aggregate, no joins.",
)
def x130(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    row_str = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
        F.col("o_orderdate").cast("string"),
        F.col("o_orderpriority"),
    )
    h = F.conv(F.substring(F.md5(row_str), 1, 7), 16, 10).cast("long")
    return (
        o.select(h.alias("h"))
        .groupBy(F.pmod(F.col("h"), F.lit(64)).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("h").cast("bigint").alias("checksum"),
        )
        .orderBy("bucket")
    )


@_q(
    "x131_markov_anomaly",
    """WITH s AS (
         SELECT user_id, event_type AS cur,
                LEAD(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS nxt
         FROM events
       ),
       p AS (SELECT user_id, cur, nxt FROM s WHERE nxt IS NOT NULL),
       c AS (SELECT cur, nxt, COUNT(*) AS n FROM p GROUP BY cur, nxt),
       t AS (SELECT cur, SUM(n) AS n_cur FROM c GROUP BY cur),
       m AS (SELECT c.cur, c.nxt,
                    CAST(ROUND(-ln(CAST(c.n AS DOUBLE)
                                   / CAST(t.n_cur AS DOUBLE)) * 1000000000,
                               0) AS BIGINT) AS nlp
             FROM c JOIN t ON c.cur = t.cur),
       u AS (SELECT p.user_id,
                    CAST(COUNT(*) AS BIGINT) AS n_trans,
                    CAST(SUM(m.nlp)::BIGINT AS BIGINT) AS sum_nlp
             FROM p JOIN m ON p.cur = m.cur AND p.nxt = m.nxt
             GROUP BY p.user_id)
       SELECT user_id, n_trans,
              ROUND(CAST(sum_nlp AS DOUBLE) / CAST(n_trans AS DOUBLE)
                    / 1000000000 + 0.0, 6) AS avg_nlp
       FROM u WHERE n_trans >= 20
       ORDER BY avg_nlp DESC, user_id LIMIT 20""",
    doc="Behavioral anomaly scoring by the Markov baseline — the "
    "consumer x115's doc promises: each user's event stream scored as "
    "mean transition surprisal (-ln P(next|cur) under the corpus-wide "
    "matrix), top-20 most improbable users with >= 20 transitions — "
    "the bot/abuse shortlist. Numeric discipline: each transition's "
    "surprisal is ONE ln of ONE exact division (x44 proved ln(div) "
    "bit-identical across engines), rounded ONCE to 1e-9 units and "
    "summed as BIGINT (x109's order-free discipline — a raw double "
    "SUM over a user's transitions would be reassociation-shaped "
    "exactly where ranking needs exactness); the LIMIT rides the "
    "ROUNDED average with a user_id tie-break. Plan: one user-hash "
    "window for adjacency, two tiny grouped counts, the 25-cell "
    "matrix broadcast back onto the pair stream — per-user state "
    "bounded by events-per-user at any corpus size.",
)
def x131(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        ev.select(
            "user_id",
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
        )
        .where(F.col("nxt").isNotNull())
    )
    c = p.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("cur").agg(F.sum("n").alias("n_cur"))
    m = (
        c.join(t, "cur")
        .select(
            "cur",
            "nxt",
            F.round(
                -F.log(
                    F.col("n").cast("double") / F.col("n_cur").cast("double")
                )
                * F.lit(1_000_000_000),
                0,
            )
            .cast("bigint")
            .alias("nlp"),
        )
    )
    u = (
        p.join(F.broadcast(m), ["cur", "nxt"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trans"),
            F.sum("nlp").cast("bigint").alias("sum_nlp"),
        )
    )
    return (
        u.where(F.col("n_trans") >= 20)
        .select(
            "user_id",
            "n_trans",
            F.round(
                F.col("sum_nlp").cast("double")
                / F.col("n_trans").cast("double")
                / F.lit(1_000_000_000.0)
                + F.lit(0.0),
                6,
            ).alias("avg_nlp"),
        )
        .orderBy(F.desc("avg_nlp"), "user_id")
        .limit(20)
    )


@_q(
    "x132_optimize_equivalence",
    """WITH a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                         CAST(COUNT(DISTINCT source) AS BIGINT)
                           AS n_sources,
                         CAST(SUM(n_chars)::BIGINT AS BIGINT) AS sum_chars
                  FROM documents)
       SELECT 0 AS version, 'append' AS op, n_docs, n_sources, sum_chars,
              0 AS compacted
       FROM a
       UNION ALL
       SELECT 1, 'replace', n_docs, n_sources, sum_chars, 1
       FROM a
       ORDER BY version""",
    doc="Compaction-as-a-snapshot-commit certified through the driver "
    "gate (OPTIMIZE): the corpus is committed deliberately fragmented "
    "(repartition(16) -> 16 small files), snapshots.optimize_table "
    "rewrites it right-sized and publishes the result as an atomic "
    "'replace' commit, and the report reads BOTH versions back — "
    "(n_docs, n_sources, sum_chars) must be identical across the "
    "compaction (content equality), the op labels come from the "
    "actual manifest log (history()), and 'compacted' is computed "
    "from the MEASURED per-version file counts (_metadata.file_path), "
    "so a rewrite that failed to reduce files breaks the hash. The "
    "oracle recomputes the aggregates once and asserts them for both "
    "version rows. This closes the gap compact_corpus documents: the "
    "atomic swap belongs to the catalog layer, and the snapshot log "
    "IS that layer — readers see pre- or post-compaction atomically, "
    "time travel still reads the fragmented v0, vacuum later reclaims "
    "it. Scale shape: commits/scans are ordinary distributed parquet "
    "jobs; only the 2-row audit and KB manifests are driver state.",
)
def x132(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    t = tempfile.mkdtemp(prefix="dde_optimize_equiv_")
    try:
        snap.commit(spark, docs.repartition(16), t)
        v1 = snap.optimize_table(spark, t, target_file_bytes=128 << 20)
        ops = {h["version"]: h["op"] for h in snap.history(t)}
        per_v = {}
        for v in (0, v1):
            d = snap.read_snapshot(spark, t, v)
            r = d.agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.countDistinct("source").cast("long").alias("n_sources"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
                F.countDistinct(F.col("_metadata.file_path")).alias(
                    "n_files"
                ),
            ).collect()[0]
            per_v[v] = r
        rows = [
            (
                0,
                ops[0],
                per_v[0]["n_docs"],
                per_v[0]["n_sources"],
                per_v[0]["sum_chars"],
                0,
            ),
            (
                1,
                ops[v1],
                per_v[v1]["n_docs"],
                per_v[v1]["n_sources"],
                per_v[v1]["sum_chars"],
                int(per_v[v1]["n_files"] < per_v[0]["n_files"]),
            ),
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows,
        "version BIGINT, op STRING, n_docs BIGINT, n_sources BIGINT, "
        "sum_chars BIGINT, compacted BIGINT",
    ).orderBy("version")


@_q(
    "x133_record_linkage_fs",
    """WITH d AS (SELECT doc_id, lang, source, n_chars,
                         n_chars // 50 AS lb
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                    AND n_chars IS NOT NULL),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
       sl AS (SELECT CAST(SUM(c * (c - 1))::BIGINT AS BIGINT) AS s
              FROM (SELECT COUNT(*) AS c FROM d GROUP BY lang)),
       ss AS (SELECT CAST(SUM(c * (c - 1))::BIGINT AS BIGINT) AS s
              FROM (SELECT COUNT(*) AS c FROM d GROUP BY source)),
       sc AS (SELECT CAST(SUM(c * (c - 1))::BIGINT AS BIGINT) AS s
              FROM (SELECT COUNT(*) AS c FROM d GROUP BY n_chars)),
       pat AS (SELECT CAST(a.lang = b.lang AS BIGINT) AS g_lang,
                      CAST(a.source = b.source AS BIGINT) AS g_source,
                      CAST(a.n_chars = b.n_chars AS BIGINT) AS g_len,
                      CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM d a JOIN d b
                 ON a.lb = b.lb AND a.doc_id < b.doc_id
               GROUP BY 1, 2, 3),
       w AS (SELECT g_lang, g_source, g_len, n_pairs,
               (CASE WHEN g_lang = 1 THEN
                  CAST(ROUND(ln(CAST(19 * n.n * (n.n - 1) AS DOUBLE)
                                / CAST(20 * sl.s AS DOUBLE)) * 1e9, 0)
                       AS BIGINT)
                ELSE
                  CAST(ROUND(ln(CAST(n.n * (n.n - 1) AS DOUBLE)
                                / CAST(20 * (n.n * (n.n - 1) - sl.s)
                                       AS DOUBLE)) * 1e9, 0) AS BIGINT)
                END
                + CASE WHEN g_source = 1 THEN
                    CAST(ROUND(ln(CAST(19 * n.n * (n.n - 1) AS DOUBLE)
                                  / CAST(20 * ss.s AS DOUBLE)) * 1e9, 0)
                         AS BIGINT)
                  ELSE
                    CAST(ROUND(ln(CAST(n.n * (n.n - 1) AS DOUBLE)
                                  / CAST(20 * (n.n * (n.n - 1) - ss.s)
                                         AS DOUBLE)) * 1e9, 0) AS BIGINT)
                  END
                + CASE WHEN g_len = 1 THEN
                    CAST(ROUND(ln(CAST(19 * n.n * (n.n - 1) AS DOUBLE)
                                  / CAST(20 * sc.s AS DOUBLE)) * 1e9, 0)
                         AS BIGINT)
                  ELSE
                    CAST(ROUND(ln(CAST(n.n * (n.n - 1) AS DOUBLE)
                                  / CAST(20 * (n.n * (n.n - 1) - sc.s)
                                         AS DOUBLE)) * 1e9, 0) AS BIGINT)
                  END) AS ws
             FROM pat, n, sl, ss, sc)
       SELECT g_lang, g_source, g_len, n_pairs,
              ROUND(CAST(ws AS DOUBLE) / 1e9 + 0.0, 6) AS weight_nats
       FROM w ORDER BY g_lang, g_source, g_len""",
    doc="Fellegi-Sunter probabilistic record linkage: candidate pairs "
    "(50-char length-bucket blocking, the x74 discipline) reduce to "
    "their AGREEMENT PATTERN over (lang, source, exact-length), and "
    "each of the 8 patterns gets its match-evidence weight "
    "sum_j[ln(m_j/u_j) if agree else ln((1-m_j)/(1-u_j))] — the "
    "classic ER scoring layer ABOVE x74's distance join: weights say "
    "how much an agreement is WORTH (agreeing on a 2-value field is "
    "weak evidence; on exact length, strong). u_j is estimated "
    "EXACTLY from the data as the random-pair agreement probability "
    "sum_v c_v(c_v-1) / (N(N-1)) (one tiny grouped count per field); "
    "m_j is the conventional 0.95 prior = 19/20, so every ln argument "
    "is ONE exact integer/integer division (x44: bit-identical across "
    "engines), each term rounded once to 1e-9 and summed as BIGINT "
    "(x109 discipline). Scale shape (r8 verdict fix): the pattern "
    "COUNTS are derived WITHOUT materializing pairs — same-block "
    "pairs agreeing on at least attribute-subset S number "
    "sum over (block, S-values) cells of c(c-1)/2, so ONE GROUPING "
    "SETS pass over the 8 subsets (a single Expand+shuffle, linear in "
    "rows) plus inclusion-exclusion over the subset lattice recovers "
    "the exact per-pattern counts — the x77 n_a*n_b discipline "
    "applied to ER; the former doc-level self-join (quadratic in "
    "block occupancy, 18.2x at 10x data) is gone, while the ORACLE "
    "keeps the literal pair join, making the hash check a genuinely "
    "independent derivation. Output is 2^3 rows whatever the corpus "
    "size.",
)
def x133(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    # NULL attributes are excluded up front (mirrored in the oracle's
    # WHERE): GROUP BY treats NULLs as equal while the pair join's SQL
    # equality never does — dropping them keeps the two independent
    # derivations equivalent on any input.
    d = (
        load_table(spark, sf_dir, "documents")
        .where(
            F.col("lang").isNotNull()
            & F.col("source").isNotNull()
            & F.col("n_chars").isNotNull()
        )
        .select(
            "lang", "source", "n_chars",
            _int_div(F.col("n_chars"), F.lit(50)).alias("lb"),
        )
    )
    # Pairs-agreeing-on-at-least-S for all 8 subsets S of
    # {lang, source, n_chars} from one GROUPING SETS aggregation
    # (every set keeps lb — candidates are same-block pairs).
    sets = []
    for mask in range(8):
        s = [F.col("lb")]
        if mask & 4:
            s.append(F.col("lang"))
        if mask & 2:
            s.append(F.col("source"))
        if mask & 1:
            s.append(F.col("n_chars"))
        sets.append(s)
    cells = d.groupingSets(
        sets, F.col("lb"), F.col("lang"), F.col("source"), F.col("n_chars")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        # F.grouping is only legal inside the grouping agg list (x121)
        (F.lit(1) - F.grouping("lang")).cast("bigint").alias("in_lang"),
        (F.lit(1) - F.grouping("source")).cast("bigint").alias("in_source"),
        (F.lit(1) - F.grouping("n_chars")).cast("bigint").alias("in_len"),
    )
    at_least = cells.groupBy("in_lang", "in_source", "in_len").agg(
        F.sum(F.col("c") * (F.col("c") - F.lit(1))).cast("bigint").alias("cc")
    )
    # one row: a_{bits} = pairs agreeing on at least S (bits=lang,source,len)
    wide = at_least.agg(
        *[
            _int_div(
                F.coalesce(
                    F.sum(
                        F.when(
                            (F.col("in_lang") == (b >> 2) & 1)
                            & (F.col("in_source") == (b >> 1) & 1)
                            & (F.col("in_len") == b & 1),
                            F.col("cc"),
                        )
                    ),
                    F.lit(0),
                ),
                F.lit(2),
            ).alias(f"a{b:03b}")
            for b in range(8)
        ]
    )
    # Mobius / inclusion-exclusion: exact(T) = sum_{S>=T} (-1)^|S\T| a_S
    A = {b: F.col(f"a{b:03b}") for b in range(8)}
    exact = {
        7: A[7],
        6: A[6] - A[7],
        5: A[5] - A[7],
        3: A[3] - A[7],
        4: A[4] - A[6] - A[5] + A[7],
        2: A[2] - A[6] - A[3] + A[7],
        1: A[1] - A[5] - A[3] + A[7],
        0: A[0] - A[4] - A[2] - A[1] + A[6] + A[5] + A[3] - A[7],
    }
    pat = (
        wide.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit((b >> 2) & 1).cast("bigint").alias("g_lang"),
                            F.lit((b >> 1) & 1).cast("bigint").alias(
                                "g_source"
                            ),
                            F.lit(b & 1).cast("bigint").alias("g_len"),
                            exact[b].cast("bigint").alias("n_pairs"),
                        )
                        for b in range(8)
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        # the oracle's pair join only emits patterns that occur
        .where(F.col("n_pairs") > 0)
    )

    def s_of(col: str, alias: str) -> DataFrame:
        return (
            d.groupBy(col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1))
                .cast("bigint")
                .alias(alias)
            )
        )

    stats = (
        d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .crossJoin(s_of("lang", "sl"))
        .crossJoin(s_of("source", "ss"))
        .crossJoin(s_of("n_chars", "sc"))
    )
    p = F.col("n") * (F.col("n") - 1)

    def term(g: str, s: str):
        agree = F.log(
            (F.lit(19) * p).cast("double") / (F.lit(20) * F.col(s)).cast("double")
        )
        disagree = F.log(
            p.cast("double") / (F.lit(20) * (p - F.col(s))).cast("double")
        )
        return F.round(
            F.when(F.col(g) == 1, agree).otherwise(disagree) * F.lit(1e9), 0
        ).cast("bigint")

    return (
        pat.crossJoin(F.broadcast(stats))
        .withColumn(
            "ws",
            term("g_lang", "sl") + term("g_source", "ss") + term("g_len", "sc"),
        )
        .select(
            "g_lang", "g_source", "g_len", "n_pairs",
            F.round(F.col("ws").cast("double") / F.lit(1e9) + F.lit(0.0), 6)
            .alias("weight_nats"),
        )
        .orderBy("g_lang", "g_source", "g_len")
    )


@_q(
    "x134_funnel_conversion",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tmu
                  FROM events),
       t1 AS (SELECT user_id, MIN(tmu) AS t1 FROM e
              WHERE event_type = 'view' GROUP BY user_id),
       t2 AS (SELECT e.user_id, MIN(tmu) AS t2
              FROM e JOIN t1 USING (user_id)
              WHERE event_type = 'click'
                AND tmu >= t1 AND tmu <= t1 + 86400000000
              GROUP BY e.user_id),
       t3 AS (SELECT e.user_id, MIN(tmu) AS t3
              FROM e JOIN t2 USING (user_id)
              WHERE event_type = 'purchase'
                AND tmu >= t2 AND tmu <= t2 + 86400000000
              GROUP BY e.user_id),
       c AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n1,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM t2) AS n2,
                    (SELECT CAST(COUNT(*) AS BIGINT) FROM t3) AS n3)
       SELECT 1 AS step, 'view' AS etype, n1 AS n_users,
              ROUND(1e0 + 0.0, 6) AS pct_of_prev
       FROM c
       UNION ALL
       SELECT 2, 'click', n2,
              ROUND(CAST(n2 AS DOUBLE) / CAST(NULLIF(n1, 0) AS DOUBLE)
                    + 0.0, 6)
       FROM c
       UNION ALL
       SELECT 3, 'purchase', n3,
              ROUND(CAST(n3 AS DOUBLE) / CAST(NULLIF(n2, 0) AS DOUBLE)
                    + 0.0, 6)
       FROM c
       ORDER BY step""",
    doc="Time-bounded funnel conversion — the event-analytics staple: "
    "per user, the FIRST 'view', then the first 'click' within 24h of "
    "it, then the first 'purchase' within 24h of THAT; the report is "
    "users-remaining and step-over-step conversion per stage. Differs "
    "from x110 (CEP regex): the funnel constrains WALL-CLOCK gaps "
    "between anchored first-occurrences, not the symbolic order of "
    "the whole stream, so it composes per-user aggregates and "
    "equi-joins instead of a per-user ordered fold. Scale shape: "
    "three conditional min-aggregations shuffled on user_id (the "
    "natural key), each stage's state one row per surviving user — "
    "never a per-event window; conversion ratios are single exact "
    "divisions of BIGINT counts (deterministic IEEE), NULLIF-guarded. "
    "Micros idiom: Spark unix_micros == DuckDB epoch_us (x120).",
)
def x134(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = 86_400_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("tmu")
    )
    t1 = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tmu").alias("t1"))
    )
    t2 = (
        e.where(F.col("event_type") == "click")
        .join(t1, "user_id")
        .where(
            (F.col("tmu") >= F.col("t1"))
            & (F.col("tmu") <= F.col("t1") + F.lit(day))
        )
        .groupBy("user_id")
        .agg(F.min("tmu").alias("t2"))
    )
    t3 = (
        e.where(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .where(
            (F.col("tmu") >= F.col("t2"))
            & (F.col("tmu") <= F.col("t2") + F.lit(day))
        )
        .groupBy("user_id")
        .agg(F.min("tmu").alias("t3"))
    )
    c = (
        t1.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
        .crossJoin(t2.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
        .crossJoin(t3.agg(F.count(F.lit(1)).cast("bigint").alias("n3")))
    )

    def ratio(num: str, den: str):
        return F.round(
            F.col(num).cast("double")
            / F.when(F.col(den) == 0, F.lit(None))
            .otherwise(F.col(den))
            .cast("double")
            + F.lit(0.0),
            6,
        )

    r1 = c.select(
        F.lit(1).cast("bigint").alias("step"),
        F.lit("view").alias("etype"),
        F.col("n1").alias("n_users"),
        F.round(F.lit(1.0) + F.lit(0.0), 6).alias("pct_of_prev"),
    )
    r2 = c.select(
        F.lit(2).cast("bigint").alias("step"),
        F.lit("click").alias("etype"),
        F.col("n2").alias("n_users"),
        ratio("n2", "n1").alias("pct_of_prev"),
    )
    r3 = c.select(
        F.lit(3).cast("bigint").alias("step"),
        F.lit("purchase").alias("etype"),
        F.col("n3").alias("n_users"),
        ratio("n3", "n2").alias("pct_of_prev"),
    )
    return r1.unionByName(r2).unionByName(r3).orderBy("step")


@_q(
    "x135_aqp_hash_sample",
    """WITH li AS (
         SELECT l_returnflag AS flag,
                CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS cents,
                CASE WHEN ('0x' || substr(
                         md5(CAST(l_orderkey * 8 + l_linenumber
                                  AS VARCHAR)), 1, 7))::BIGINT % 20 = 0
                     THEN 1 ELSE 0 END AS s
         FROM lineitem
       ),
       g AS (
         SELECT flag,
                CAST(COUNT(*) AS BIGINT) AS n_exact,
                CAST(SUM(cents)::BIGINT AS BIGINT) AS sum_exact_cents,
                CAST(20 * SUM(s)::BIGINT AS BIGINT) AS n_est,
                CAST(20 * SUM(s * cents)::BIGINT AS BIGINT)
                  AS sum_est_cents
         FROM li GROUP BY flag
       )
       SELECT flag, n_exact, n_est,
              CAST(abs(n_est - n_exact) * 1000000 // n_exact AS BIGINT)
                AS n_err_ppm,
              sum_exact_cents, sum_est_cents,
              CAST(abs(sum_est_cents - sum_exact_cents) * 1000000
                   // sum_exact_cents AS BIGINT) AS sum_err_ppm,
              CAST(abs(n_est - n_exact) * 1000000 // n_exact <= 100000
                   AND abs(sum_est_cents - sum_exact_cents) * 1000000
                       // sum_exact_cents <= 100000 AS BIGINT)
                AS within_10pct
       FROM g ORDER BY flag""",
    doc="Approximate query processing by DETERMINISTIC hash sampling, "
    "certified in-query against the exact answer: a 5% sample is the "
    "rows whose md5(line id) lands in residue 0 of 20 (cross-engine "
    "identical — the x04/x130 md5 idiom), per-flag COUNT and "
    "SUM(cents) are Horvitz-Thompson scaled by 20, and the report "
    "carries estimate, exact, and the error in ppm (pure-integer "
    "floored division) plus a within-10% verdict — so the driver's "
    "hash gate certifies BOTH that the sample is reproducible and "
    "that the estimator's error is in-bound on real data. Why it "
    "matters at 100 TB: the estimate path reads the same scan but "
    "aggregates 5% of the rows after a map-side hash filter that "
    "needs no shuffle and no stored sample table — the pattern for "
    "interactive dashboards over raw fact tables; the exact columns "
    "exist here only as the certification twin. ONE pass, conditional "
    "aggregation (no second scan for the sample).",
)
def x135(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        F.when(
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(
                            (
                                F.col("l_orderkey") * 8
                                + F.col("l_linenumber")
                            ).cast("string")
                        ),
                        1,
                        7,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(20),
            )
            == 0,
            1,
        )
        .otherwise(0)
        .alias("s"),
    )
    g = li.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.sum("cents").cast("bigint").alias("sum_exact_cents"),
        (F.lit(20) * F.sum("s")).cast("bigint").alias("n_est"),
        (F.lit(20) * F.sum(F.col("s") * F.col("cents")))
        .cast("bigint")
        .alias("sum_est_cents"),
    )
    n_ppm = _int_div(
        F.abs(F.col("n_est") - F.col("n_exact")) * F.lit(1_000_000),
        F.col("n_exact"),
    )
    s_ppm = _int_div(
        F.abs(F.col("sum_est_cents") - F.col("sum_exact_cents"))
        * F.lit(1_000_000),
        F.col("sum_exact_cents"),
    )
    return g.select(
        "flag", "n_exact", "n_est",
        n_ppm.alias("n_err_ppm"),
        "sum_exact_cents", "sum_est_cents",
        s_ppm.alias("sum_err_ppm"),
        ((n_ppm <= 100_000) & (s_ppm <= 100_000))
        .cast("bigint")
        .alias("within_10pct"),
    ).orderBy("flag")


@_q(
    "x136_autocorrelation",
    """WITH daily AS (
         SELECT CAST(ts AS DATE) AS day,
                CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))::BIGINT
                     AS BIGINT) AS x
         FROM events WHERE value IS NOT NULL GROUP BY day
       ),
       led AS (
         SELECT x,
                LEAD(x, 1) OVER (ORDER BY day) AS y1,
                LEAD(x, 2) OVER (ORDER BY day) AS y2,
                LEAD(x, 3) OVER (ORDER BY day) AS y3,
                LEAD(x, 4) OVER (ORDER BY day) AS y4,
                LEAD(x, 5) OVER (ORDER BY day) AS y5,
                LEAD(x, 6) OVER (ORDER BY day) AS y6,
                LEAD(x, 7) OVER (ORDER BY day) AS y7
         FROM daily
       ),
       pairs AS (
         SELECT 1 AS lag, x, y1 AS y FROM led WHERE y1 IS NOT NULL
         UNION ALL SELECT 2, x, y2 FROM led WHERE y2 IS NOT NULL
         UNION ALL SELECT 3, x, y3 FROM led WHERE y3 IS NOT NULL
         UNION ALL SELECT 4, x, y4 FROM led WHERE y4 IS NOT NULL
         UNION ALL SELECT 5, x, y5 FROM led WHERE y5 IS NOT NULL
         UNION ALL SELECT 6, x, y6 FROM led WHERE y6 IS NOT NULL
         UNION ALL SELECT 7, x, y7 FROM led WHERE y7 IS NOT NULL
       ),
       s AS (
         SELECT lag, CAST(COUNT(*) AS BIGINT) AS m,
                CAST(SUM(x)::BIGINT AS BIGINT) AS sx,
                CAST(SUM(y)::BIGINT AS BIGINT) AS sy,
                CAST(SUM(x * y)::BIGINT AS BIGINT) AS sxy,
                CAST(SUM(x * x)::BIGINT AS BIGINT) AS sxx,
                CAST(SUM(y * y)::BIGINT AS BIGINT) AS syy
         FROM pairs GROUP BY lag
       )
       SELECT CAST(lag AS BIGINT) AS lag, m,
              ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                           * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    + 0.0, 6) AS acf
       FROM s ORDER BY lag""",
    doc="Autocorrelation function of the daily revenue series at lags "
    "1..7 — the seasonality detector (a weekly cycle surfaces as an "
    "acf peak at lag 7) completing the time-series inference tier "
    "(x99 EWMA, x111 OLS trend, x116 CUSUM, x125 z-score). Per-lag "
    "Pearson r over (x_t, x_{t+k}) pairs from exact BIGINT power sums "
    "(d41/x111 discipline); the closed-form combination happens in "
    "DOUBLE with the identical operation order in both engines — "
    "every input is an exact integer, every op a single IEEE op, so "
    "the bits agree without a scaled-integer detour (x112's Welch "
    "pattern). Scale shape: the heavy pass is ONE grouped integer "
    "aggregation of events into the daily series; everything ordered "
    "(the 7 LEADs) runs over the CALENDAR-bounded series (~366 rows "
    "regardless of corpus size), so the single-task window is bounded "
    "by days, never by data.",
)
def x136(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("x")
        )
    )
    w = Window.orderBy("day")
    led = daily.select(
        "x", *[F.lead("x", k).over(w).alias(f"y{k}") for k in range(1, 8)]
    )
    pairs = (
        led.select(
            "x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("bigint").alias("lag"),
                            F.col(f"y{k}").alias("y"),
                        )
                        for k in range(1, 8)
                    ]
                )
            ).alias("p"),
        )
        .select("x", F.col("p.lag").alias("lag"), F.col("p.y").alias("y"))
        .where(F.col("y").isNotNull())
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    md = F.col("m").cast("double")
    num = md * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy").cast("double")
    d1 = md * F.col("sxx").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sx").cast("double")
    d2 = md * F.col("syy").cast("double") - F.col("sy").cast(
        "double"
    ) * F.col("sy").cast("double")
    return s.select(
        "lag", "m",
        F.round(num / F.sqrt(d1 * d2) + F.lit(0.0), 6).alias("acf"),
    ).orderBy("lag")


@_q(
    "x137_bloom_skipping",
    """WITH li AS (
         SELECT l_orderkey AS v, l_partkey FROM lineitem
       ),
       mx AS (SELECT MAX(l_partkey) + 1 AS mpk FROM li),
       rows_b AS (
         SELECT v, (l_partkey * 64) // mx.mpk AS bucket FROM li, mx
       ),
       hashed AS (
         SELECT DISTINCT bucket, v,
                ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 7))::BIGINT
                  % 65536 AS p1,
                ('0x' || substr(md5(CAST(v AS VARCHAR)), 9, 7))::BIGINT
                  % 65536 AS p2
         FROM rows_b
       ),
       bits AS (
         SELECT bucket, p1 // 32 AS w, CAST(1 AS BIGINT) << (p1 % 32)
                  AS mask FROM hashed
         UNION ALL
         SELECT bucket, p2 // 32, CAST(1 AS BIGINT) << (p2 % 32)
         FROM hashed
       ),
       bloom AS (
         SELECT bucket, w, CAST(bit_or(mask) AS BIGINT) AS word
         FROM bits GROUP BY bucket, w
       ),
       keys AS (
         SELECT DISTINCT v FROM hashed
         WHERE ('0x' || substr(md5(CAST(v AS VARCHAR)), 17, 7))::BIGINT
               % 997 = 0
         ORDER BY v LIMIT 20
       ),
       probes0 AS (
         SELECT v,
                ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 7))::BIGINT
                  % 65536 AS p
         FROM keys
         UNION ALL
         SELECT v,
                ('0x' || substr(md5(CAST(v AS VARCHAR)), 9, 7))::BIGINT
                  % 65536
         FROM keys
       ),
       probes AS (
         SELECT v, p // 32 AS w,
                CAST(bit_or(CAST(1 AS BIGINT) << (p % 32)) AS BIGINT)
                  AS mask
         FROM probes0 GROUP BY v, p // 32
       ),
       kw AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS k_words
              FROM probes GROUP BY v),
       hits AS (
         SELECT pr.v, b.bucket
         FROM probes pr JOIN bloom b
           ON b.w = pr.w AND (b.word & pr.mask) = pr.mask
         GROUP BY pr.v, b.bucket
         HAVING COUNT(*) = (SELECT k_words FROM kw WHERE kw.v = pr.v)
       ),
       bloom_files AS (
         SELECT v, CAST(COUNT(*) AS BIGINT) AS bloom_files
         FROM hits GROUP BY v
       ),
       exact_files AS (
         SELECT h.v, CAST(COUNT(DISTINCT h.bucket) AS BIGINT)
                  AS exact_files
         FROM hashed h JOIN keys k ON h.v = k.v
         GROUP BY h.v
       )
       SELECT k.v AS orderkey, e.exact_files, bf.bloom_files,
              CAST(64 AS BIGINT) AS no_index_files
       FROM keys k
       JOIN exact_files e ON e.v = k.v
       JOIN bloom_files bf ON bf.v = k.v
       ORDER BY orderkey""",
    doc="Bloom-filter data skipping for point lookups — the "
    "complement to x103's zone maps: the layout is partkey-range (64 "
    "files), so an ORDERKEY point lookup gets NOTHING from min/max "
    "stats (every file spans the full orderkey range); a per-file "
    "65,536-bit Bloom index (2 md5-derived probes per value, 32-bit "
    "words stored sparsely as (bucket, word_idx, word) rows — "
    "exactly Parquet's column bloom / Delta's skipping-index "
    "architecture, relationally) answers 'which files can contain "
    "key v' with a handful of word lookups. The report certifies 20 "
    "deterministically chosen keys: files a Bloom probe admits vs the "
    "exact containing files vs the 64 a scan without the index reads "
    "— the false-positive overhead is measured on real data, and "
    "Bloom >= exact always (no false negatives) or the hash gate "
    "breaks. Scale shape: index build is one distinct + one grouped "
    "bit_or (state = set words only, ~2 per distinct value); probing "
    "touches k_words index rows per (key, file) — never the data.",
)
def x137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("v"), "l_partkey"
    )
    mx = li.agg((F.max("l_partkey") + 1).alias("mpk"))
    rows_b = li.crossJoin(F.broadcast(mx)).select(
        "v", _int_div(F.col("l_partkey") * 64, F.col("mpk")).alias("bucket")
    )

    def hx(col, start):
        return F.conv(
            F.substring(F.md5(col.cast("string")), start, 7), 16, 10
        ).cast("long")

    # hashed feeds the index build, the key pick, both probe branches
    # and the exact twin (5 consumers): localCheckpoint materializes the
    # distinct ONCE instead of re-scanning lineitem per consumer
    hashed = (
        rows_b.select(
            "bucket", "v",
            F.pmod(hx(F.col("v"), 1), F.lit(65536)).alias("p1"),
            F.pmod(hx(F.col("v"), 9), F.lit(65536)).alias("p2"),
        )
        .distinct()
        .localCheckpoint()
    )
    def mask_of(pcol: str):
        # shiftleft's numBits must be an expression, not a python int,
        # when the bit position is data-dependent
        return F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({pcol}, 32) AS INT))"
        )

    bits = hashed.select(
        "bucket", _int_div(F.col("p1"), F.lit(32)).alias("w"),
        mask_of("p1").alias("mask"),
    ).unionAll(
        hashed.select(
            "bucket", _int_div(F.col("p2"), F.lit(32)).alias("w"),
            mask_of("p2").alias("mask"),
        )
    )
    bloom = bits.groupBy("bucket", "w").agg(
        F.bit_or("mask").cast("bigint").alias("word")
    )
    keys = (
        hashed.select("v")
        .where(F.pmod(hx(F.col("v"), 17), F.lit(997)) == 0)
        .distinct()
        .orderBy("v")
        .limit(20)
    )
    probes0 = keys.select(
        "v", F.pmod(hx(F.col("v"), 1), F.lit(65536)).alias("p")
    ).unionAll(
        keys.select("v", F.pmod(hx(F.col("v"), 9), F.lit(65536)).alias("p"))
    )
    probes = (
        probes0.groupBy("v", _int_div(F.col("p"), F.lit(32)).alias("w"))
        .agg(F.bit_or(mask_of("p")).cast("bigint").alias("mask"))
    )
    kw = probes.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_words")
    )
    # probes and bloom share lineage through `hashed` (a self-join of
    # derivations) — explicit string aliases keep resolution unambiguous
    hits = (
        probes.alias("pr")
        .join(
            bloom.alias("bl"),
            (F.col("bl.w") == F.col("pr.w"))
            & (
                F.col("bl.word").bitwiseAND(F.col("pr.mask"))
                == F.col("pr.mask")
            ),
        )
        .groupBy(
            F.col("pr.v").alias("v"), F.col("bl.bucket").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_w"))
        .join(kw, "v")
        .where(F.col("n_w") == F.col("k_words"))
    )
    bloom_files = hits.groupBy("v").agg(
        F.count(F.lit(1)).cast("bigint").alias("bloom_files")
    )
    exact_files = (
        hashed.join(keys, "v")
        .groupBy("v")
        .agg(F.countDistinct("bucket").cast("bigint").alias("exact_files"))
    )
    return (
        keys.join(exact_files, "v")
        .join(bloom_files, "v")
        .select(
            F.col("v").alias("orderkey"), "exact_files", "bloom_files",
            F.lit(64).cast("bigint").alias("no_index_files"),
        )
        .orderBy("orderkey")
    )


@_q(
    "x138_last_touch_attribution",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tmu,
                         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                  FROM events),
       c AS (SELECT user_id, tmu FROM e WHERE event_type = 'click'),
       p AS (SELECT user_id, tmu, cents FROM e
             WHERE event_type = 'purchase'),
       a AS (SELECT p.cents, p.tmu AS ptmu, c.tmu AS ctmu
             FROM p ASOF LEFT JOIN c
               ON p.user_id = c.user_id AND p.tmu >= c.tmu),
       b AS (SELECT cents,
                    CASE WHEN ctmu IS NULL
                           OR ptmu - ctmu > 604800000000 THEN -1
                         ELSE (ctmu // 3600000000) % 24 END AS hour
             FROM a)
       SELECT CAST(hour AS BIGINT) AS hour,
              CAST(COUNT(*) AS BIGINT) AS n_purchases,
              CAST(SUM(cents)::BIGINT AS BIGINT) AS cents
       FROM b GROUP BY hour ORDER BY hour""",
    doc="Last-touch revenue attribution — the marketing-analytics "
    "application of the as-of join: every purchase's cents credit to "
    "the LATEST preceding click by the same user within a 7-day "
    "lookback (no click in window -> the unattributed -1 bucket), "
    "rolled up by the click's UTC hour-of-day. Cross-PARADIGM "
    "certification: the oracle uses DuckDB's native ASOF LEFT JOIN "
    "while the engine computes the same correspondence as a "
    "last(ignorenulls) running window over the type-tagged event "
    "stream (clicks sorted before purchases at equal timestamps, "
    "matching ASOF's >= bound) — two entirely different formulations "
    "must agree bit-for-bit. Scale shape: ONE shuffle on user_id and "
    "a per-user ordered scan carrying one word of state (the last "
    "click time); no per-purchase probe join, no time-range "
    "explosion; hour extraction is pure integer arithmetic on epoch "
    "micros.",
)
def x138(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    week = 604_800_000_000
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts")).alias("tmu"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id", "tmu",
        F.col("tmu").alias("ctmu"),
        F.lit(None).cast("bigint").alias("cents"),
        F.lit(0).alias("is_p"),
    )
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", "tmu",
        F.lit(None).cast("bigint").alias("ctmu"),
        "cents",
        F.lit(1).alias("is_p"),
    )
    # clicks sort before purchases at equal tmu => the running last()
    # sees a same-instant click, matching ASOF's inclusive >= bound
    w = (
        Window.partitionBy("user_id")
        .orderBy("tmu", "is_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = c.unionByName(p).withColumn(
        "last_ctmu", F.last("ctmu", ignorenulls=True).over(w)
    )
    b = tagged.where(F.col("is_p") == 1).select(
        "cents",
        F.when(
            F.col("last_ctmu").isNull()
            | (F.col("tmu") - F.col("last_ctmu") > F.lit(week)),
            F.lit(-1),
        )
        .otherwise(
            F.pmod(
                _int_div(F.col("last_ctmu"), F.lit(3_600_000_000)),
                F.lit(24),
            )
        )
        .cast("bigint")
        .alias("hour"),
    )
    return (
        b.groupBy("hour")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .orderBy("hour")
    )


def _x139_oracle(rounds: int = 3) -> str:
    """Unrolled synchronous min-label propagation over the same
    candidate graph x06 certifies (the x67/x78 edge-CTE convention)."""
    from deepcell_data_engineering_spark.relational.queries import (
        QUERIES as _REG,
    )

    edges_sql = _REG["x06_minhash_lsh_pairs"].oracle
    parts = [
        f"""WITH e0 AS MATERIALIZED (
      SELECT DISTINCT least(id_a, id_b) AS u, greatest(id_a, id_b) AS v
      FROM ({edges_sql}) WHERE id_a <> id_b),
    l0 AS MATERIALIZED (
      SELECT n, n AS lbl FROM (
        SELECT u AS n FROM e0 UNION SELECT v AS n FROM e0))"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
    l{r} AS MATERIALIZED (
      SELECT n, MIN(lbl) AS lbl FROM (
        SELECT n, lbl FROM l{r - 1}
        UNION ALL
        SELECT e.v AS n, l.lbl FROM e0 e JOIN l{r - 1} l ON l.n = e.u
        UNION ALL
        SELECT e.u AS n, l.lbl FROM e0 e JOIN l{r - 1} l ON l.n = e.v
      ) GROUP BY n)"""
        )
    parts.append(
        f"""
    SELECT CAST(sz AS BIGINT) AS community_size,
           CAST(COUNT(*) AS BIGINT) AS n_communities
    FROM (SELECT lbl, COUNT(*) AS sz FROM l{rounds} GROUP BY lbl)
    GROUP BY sz ORDER BY community_size"""
    )
    return "".join(parts)


@_q(
    "x139_label_propagation",
    _x139_oracle(3),
    doc="Fixed-budget community detection by synchronous min-label "
    "propagation (functions/graph.py:label_propagation) over the LSH "
    "candidate graph — completing the graph family's resolution "
    "ladder: degree (x78 input), 3-round communities (THIS), "
    "run-to-convergence components (x21), triangles (x67), k-core "
    "(x78), link prediction (x117). After r rounds a node holds the "
    "min id within r hops, so dense near-dup groups collapse while "
    "bridge-chained blobs that CC would merge stay apart — and cost "
    "is EXACTLY r joins regardless of graph diameter, the property "
    "that makes the pass schedulable at 100 TB where convergence "
    "loops cannot be admission-controlled. Output is the community "
    "SIZE HISTOGRAM (size, count) — scale-stable, no per-node rows. "
    "Oracle: the x67/x78 convention — x06's edge SQL verbatim, "
    "rounds unrolled as MATERIALIZED CTEs.",
)
def x139(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.graph import (
        label_propagation,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(docs, num_hashes=6, k=5)
    edges = dd.lsh_candidate_pairs(
        sigs, bands=[["h0", "h1", "h2"], ["h3", "h4", "h5"]]
    )
    lbl = label_propagation(edges, rounds=3, src="id_a", dst="id_b")
    return (
        lbl.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("sz"))
        .groupBy(F.col("sz").cast("bigint").alias("community_size"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_communities"))
        .orderBy("community_size")
    )


@_q(
    "x140_session_stats",
    """WITH flagged AS (
         SELECT user_id, ts,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_sess
         FROM events
       ),
       sess0 AS (
         SELECT user_id, ts,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM flagged
       ),
       sess AS (
         SELECT user_id, sid,
                CAST(COUNT(*) AS BIGINT) AS n_events,
                epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
         FROM sess0 GROUP BY user_id, sid
       ),
       b AS (
         SELECT CASE WHEN n_events = 1 THEN '1_single'
                     WHEN n_events <= 3 THEN '2_short'
                     WHEN n_events <= 7 THEN '3_medium'
                     ELSE '4_long' END AS bucket,
                n_events, dur_us
         FROM sess
       )
       SELECT bucket,
              CAST(COUNT(*) AS BIGINT) AS n_sessions,
              CAST(SUM(n_events)::BIGINT AS BIGINT) AS total_events,
              ROUND(CAST(SUM(dur_us)::BIGINT AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) / 1e6 + 0.0, 6)
                AS avg_duration_sec
       FROM b GROUP BY bucket ORDER BY bucket""",
    doc="Session-level engagement statistics — the product-analytics "
    "report over x17/x120's sessionization: sessions (30-min gap "
    "rule) bucketed by event count (single/short/medium/long) with "
    "per-bucket counts and mean duration. The engine builds sessions "
    "with the native session_window aggregate (per-user gap-merged "
    "state, one shuffle on user_id); the oracle derives identical "
    "sessions from the LAG/SUM flag idiom — two formulations of the "
    "gap rule certified equal, then the same integer duration "
    "arithmetic (epoch micros, max - min). avg seconds is one exact "
    "BIGINT-sum division rounded once. Session state is bounded per "
    "user and the report is 4 rows at any corpus size.",
)
def x140(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            .alias("dur_us"),
        )
    )
    b = sess.select(
        F.when(F.col("n_events") == 1, "1_single")
        .when(F.col("n_events") <= 3, "2_short")
        .when(F.col("n_events") <= 7, "3_medium")
        .otherwise("4_long")
        .alias("bucket"),
        "n_events",
        "dur_us",
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum("n_events").cast("bigint").alias("total_events"),
            F.round(
                F.sum("dur_us").cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1e6)
                + F.lit(0.0),
                6,
            ).alias("avg_duration_sec"),
        )
        .orderBy("bucket")
    )


@_q(
    "x141_psi_drift",
    """WITH e AS (SELECT epoch_us(ts) AS tmu,
                         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                  FROM events WHERE value IS NOT NULL),
       span AS (SELECT MIN(tmu) AS lo, MAX(tmu) AS hi FROM e),
       halves AS (
         SELECT cents,
                CASE WHEN tmu < (span.lo + span.hi) // 2 THEN 0 ELSE 1
                  END AS half
         FROM e, span
       ),
       cspan AS (SELECT MIN(cents) AS clo, MAX(cents) + 1 AS chi
                 FROM halves WHERE half = 0),
       binned AS (
         SELECT half,
                CASE WHEN cents < cspan.clo THEN 0
                     WHEN cents >= cspan.chi THEN 9
                     ELSE ((cents - cspan.clo) * 10)
                          // (cspan.chi - cspan.clo) END AS bin
         FROM halves, cspan
       ),
       g AS (
         SELECT bin,
                CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)::BIGINT
                     AS BIGINT) AS n_first,
                CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT
                     AS BIGINT) AS n_second
         FROM binned GROUP BY bin
       ),
       tot AS (SELECT CAST(SUM(n_first)::BIGINT AS BIGINT) AS t1,
                      CAST(SUM(n_second)::BIGINT AS BIGINT) AS t2
               FROM g)
       SELECT CAST(bin AS BIGINT) AS bin, n_first, n_second,
              ROUND(CAST(CAST(ROUND(
                  (CAST(n_first + 1 AS DOUBLE) / CAST(t1 + 10 AS DOUBLE)
                   - CAST(n_second + 1 AS DOUBLE)
                     / CAST(t2 + 10 AS DOUBLE))
                  * ln(CAST((n_first + 1) * (t2 + 10) AS DOUBLE)
                       / CAST((n_second + 1) * (t1 + 10) AS DOUBLE))
                  * 1e9, 0) AS BIGINT) AS DOUBLE) / 1e9 + 0.0, 6)
                AS psi_contrib
       FROM g, tot ORDER BY bin""",
    doc="Population Stability Index between the first and second time "
    "halves of the event value distribution — the ML-monitoring drift "
    "gate (PSI > 0.2 = retrain trigger), completing the drift family "
    "(x109 KL between sources, x112 Welch, x116 CUSUM): 10 equal-"
    "width bins over the FIRST half's integer-cents range (baseline "
    "bins, the production convention; out-of-range second-half values "
    "clamp to edge bins), add-1 smoothed. Numeric discipline: the ln "
    "argument is ONE division of exact BIGINT products ((n1+1)(T2+10) "
    "/ (n2+1)(T1+10) — x44), the probability difference two exact "
    "divisions and one subtract, each per-bin contribution one "
    "deterministic IEEE expression rounded once to 1e-9 (x109). "
    "Scale shape: two conditional-sum passes over events (span, then "
    "binned counts), report = 10 rows; no window anywhere.",
)
def x141(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            F.unix_micros(F.col("ts")).alias("tmu"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    span = e.agg(F.min("tmu").alias("lo"), F.max("tmu").alias("hi"))
    halves = e.crossJoin(F.broadcast(span)).select(
        "cents",
        F.when(
            F.col("tmu")
            < _int_div(F.col("lo") + F.col("hi"), F.lit(2)),
            0,
        )
        .otherwise(1)
        .alias("half"),
    )
    cspan = (
        halves.where(F.col("half") == 0)
        .agg(
            F.min("cents").alias("clo"),
            (F.max("cents") + 1).alias("chi"),
        )
    )
    binned = halves.crossJoin(F.broadcast(cspan)).select(
        "half",
        F.when(F.col("cents") < F.col("clo"), 0)
        .when(F.col("cents") >= F.col("chi"), 9)
        .otherwise(
            _int_div(
                (F.col("cents") - F.col("clo")) * 10,
                F.col("chi") - F.col("clo"),
            )
        )
        .alias("bin"),
    )
    g = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_second"),
    )
    tot = g.agg(
        F.sum("n_first").cast("bigint").alias("t1"),
        F.sum("n_second").cast("bigint").alias("t2"),
    )
    p = (F.col("n_first") + 1).cast("double") / (F.col("t1") + 10).cast(
        "double"
    )
    q = (F.col("n_second") + 1).cast("double") / (F.col("t2") + 10).cast(
        "double"
    )
    lnpq = F.log(
        ((F.col("n_first") + 1) * (F.col("t2") + 10)).cast("double")
        / ((F.col("n_second") + 1) * (F.col("t1") + 10)).cast("double")
    )
    contrib = (
        F.round((p - q) * lnpq * F.lit(1e9), 0).cast("bigint").cast("double")
        / F.lit(1e9)
        + F.lit(0.0)
    )
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            "n_first",
            "n_second",
            F.round(contrib, 6).alias("psi_contrib"),
        )
        .orderBy("bin")
    )


@_q(
    "x142_time_weighted_avg",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tmu,
                         CAST(ROUND(value * 100, 0) AS BIGINT) AS cents
                  FROM events WHERE value IS NOT NULL),
       seg AS (
         SELECT user_id, cents,
                LEAD(tmu) OVER (PARTITION BY user_id
                                ORDER BY tmu, cents) - tmu AS dur
         FROM e
       ),
       u AS (
         SELECT user_id,
                CAST(SUM(cents * dur)::BIGINT AS BIGINT) AS wsum,
                CAST(SUM(dur)::BIGINT AS BIGINT) AS tdur
         FROM seg WHERE dur IS NOT NULL GROUP BY user_id
       )
       SELECT user_id,
              ROUND(CAST(wsum AS DOUBLE) / CAST(tdur AS DOUBLE) / 100
                    + 0.0, 6) AS twap
       FROM u WHERE tdur > 0
       ORDER BY twap DESC, user_id LIMIT 20""",
    doc="Time-weighted average value per user (TWAP — the finance/IoT "
    "aggregate where a value holds until the next observation): each "
    "event's cents weighted by its holding duration (LEAD(t) - t; the "
    "open-ended last segment excluded), one exact division of BIGINT "
    "sums per user, top-20. Why not AVG: sparse observations bias a "
    "plain mean toward burst periods — duration weighting is the "
    "integral. Numeric discipline: cents x micros products and both "
    "sums stay BIGINT (order-free), ONE division + /100 at the end, "
    "LIMIT rides the ROUNDED column with a user tie-break; zero-"
    "duration users filtered (division guard). Scale shape: one "
    "user-hash window for adjacency (the x99/x131 shape), then a "
    "plain grouped sum — state bounded per user.",
)
def x142(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("tmu"),
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("tmu", "cents")
    seg = e.select(
        "user_id", "cents",
        (F.lead("tmu").over(w) - F.col("tmu")).alias("dur"),
    ).where(F.col("dur").isNotNull())
    u = seg.groupBy("user_id").agg(
        F.sum(F.col("cents") * F.col("dur")).cast("bigint").alias("wsum"),
        F.sum("dur").cast("bigint").alias("tdur"),
    )
    return (
        u.where(F.col("tdur") > 0)
        .select(
            "user_id",
            F.round(
                F.col("wsum").cast("double")
                / F.col("tdur").cast("double")
                / F.lit(100)
                + F.lit(0.0),
                6,
            ).alias("twap"),
        )
        .orderBy(F.desc("twap"), "user_id")
        .limit(20)
    )


@_q(
    "x143_ship_latency_quantiles",
    """WITH j AS (
         SELECT o.o_orderpriority AS g,
                (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                  // 86400000000 AS days
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       ),
       vc AS (SELECT g, days AS v, COUNT(*) AS c FROM j GROUP BY g, days),
       cm AS (SELECT g, v,
                     SUM(c) OVER (PARTITION BY g ORDER BY v) AS cum,
                     SUM(c) OVER (PARTITION BY g) AS n
              FROM vc),
       p50 AS (SELECT g, MIN(v) AS p FROM cm
               WHERE cum >= (n * 1 + 1) // 2 GROUP BY g),
       p90 AS (SELECT g, MIN(v) AS p FROM cm
               WHERE cum >= (n * 9 + 9) // 10 GROUP BY g),
       p99 AS (SELECT g, MIN(v) AS p FROM cm
               WHERE cum >= (n * 99 + 99) // 100 GROUP BY g),
       cnt AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM j GROUP BY g)
       SELECT cnt.g AS priority, cnt.n,
              CAST(p50.p AS BIGINT) AS p50_days,
              CAST(p90.p AS BIGINT) AS p90_days,
              CAST(p99.p AS BIGINT) AS p99_days
       FROM cnt JOIN p50 ON cnt.g = p50.g
                JOIN p90 ON cnt.g = p90.g
                JOIN p99 ON cnt.g = p99.g
       ORDER BY priority""",
    doc="Order-fulfillment latency SLO report: per order priority, "
    "exact p50/p90/p99 of ship-minus-order days over the "
    "lineitem-orders join — the operational-latency query every "
    "warehouse runs, and the first percentile query here computed "
    "over a JOIN output rather than a base table. Quantiles via "
    "functions/stats.grouped_disc_percentile (integer-fraction ranks "
    "ceil(q*n) = (n*q_num + q_den - 1) // q_den — no float q*n; the "
    "cumulative window runs over the per-group VALUE histogram, "
    "~thousands of distinct day values, never rows). The join "
    "shuffles on orderkey once; the three percentile passes share the "
    "one histogram shape. Days are exact integer micros division.",
)
def x143(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div
    from deepcell_data_engineering_spark.functions.stats import (
        grouped_disc_percentile,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority", "o_orderdate"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("o_orderpriority").alias("g"),
        # parquet reads these as TIMESTAMP_NTZ; unix_micros wants TZ —
        # the cast is offset-symmetric so the DIFFERENCE is exact
        _int_div(
            F.unix_micros(F.col("l_shipdate").cast("timestamp"))
            - F.unix_micros(F.col("o_orderdate").cast("timestamp")),
            F.lit(86_400_000_000),
        ).alias("days"),
    )
    cnt = j.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    p50 = grouped_disc_percentile(j, "g", "days", 1, 2, "p50")
    p90 = grouped_disc_percentile(j, "g", "days", 9, 10, "p90")
    p99 = grouped_disc_percentile(j, "g", "days", 99, 100, "p99")
    return (
        cnt.join(p50, "g").join(p90, "g").join(p99, "g")
        .select(
            F.col("g").alias("priority"), "n",
            F.col("p50").cast("bigint").alias("p50_days"),
            F.col("p90").cast("bigint").alias("p90_days"),
            F.col("p99").cast("bigint").alias("p99_days"),
        )
        .orderBy("priority")
    )


@_q(
    "x144_failure_rate_ci",
    """WITH g AS (
         SELECT source,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0
                         END)::BIGINT AS BIGINT) AS failures
         FROM documents GROUP BY source
       ),
       t AS (
         SELECT source, n, failures,
                CAST(failures AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                CAST(2401 AS DOUBLE) / CAST(625 AS DOUBLE) AS z2,
                CAST(49 AS DOUBLE) / CAST(25 AS DOUBLE) AS z,
                CAST(n AS DOUBLE) AS nd
         FROM g
       ),
       w AS (
         SELECT source, n, failures, p,
                (p + z2 / (2 * nd)) AS center,
                z * sqrt(p * (1 - p) / nd + z2 / (4 * nd * nd)) AS half,
                (1 + z2 / nd) AS denom
         FROM t
       )
       SELECT source, n, failures,
              ROUND(p + 0.0, 6) AS rate,
              ROUND((center - half) / denom + 0.0, 6) AS wilson_lo,
              ROUND((center + half) / denom + 0.0, 6) AS wilson_hi
       FROM w ORDER BY source""",
    doc="Per-source quality-failure rate with a Wilson 95% confidence "
    "interval — the statistical layer x123's expectations report "
    "lacks: a source with 2 failures in 10 docs and one with 200 in "
    "1000 have the same rate but very different evidence, and the "
    "Wilson score (robust at small n and extreme p, unlike the Wald "
    "interval) ranks them honestly. Failure = n_chars < 100 (the "
    "short-doc gate). Cross-engine determinism: z = 49/25 and z^2 = "
    "2401/625 are spelled as explicit integer-cast divisions so both "
    "engines constant-fold identical doubles, and the interval is ONE "
    "fixed IEEE expression tree over exact integer inputs (the "
    "x112/x136 convention), rounded once. Scale: one conditional-sum "
    "pass; 20 output rows.",
)
def x144(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0))
            .cast("bigint")
            .alias("failures"),
        )
    )
    p = F.col("failures").cast("double") / F.col("n").cast("double")
    z2 = F.lit(2401).cast("double") / F.lit(625).cast("double")
    z = F.lit(49).cast("double") / F.lit(25).cast("double")
    nd = F.col("n").cast("double")
    center = p + z2 / (F.lit(2) * nd)
    half = z * F.sqrt(p * (F.lit(1) - p) / nd + z2 / (F.lit(4) * nd * nd))
    denom = F.lit(1) + z2 / nd
    return g.select(
        "source", "n", "failures",
        F.round(p + F.lit(0.0), 6).alias("rate"),
        F.round((center - half) / denom + F.lit(0.0), 6).alias("wilson_lo"),
        F.round((center + half) / denom + F.lit(0.0), 6).alias("wilson_hi"),
    ).orderBy("source")


@_q(
    "x145_cdc_incremental_view",
    """SELECT lang,
              CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars)::BIGINT AS BIGINT) AS sum_chars
       FROM documents
       WHERE n_chars >= 200
       GROUP BY lang
       ORDER BY lang""",
    doc="CDC read API over the snapshot log closing the loop between "
    "the lakehouse layer and the incremental-maintenance family: a "
    "private snapshot table takes an append (a third of the corpus), "
    "a second append (the rest), a content-preserving REPLACE "
    "(compaction — must contribute NO change rows, the Delta-CDF "
    "OPTIMIZE rule), and an OVERWRITE to the n_chars >= 200 subset "
    "(truncate-and-load: parent rows become deletes, new rows "
    "inserts). A per-lang (count, sum) view materialized at v0 is "
    "then maintained PURELY from snapshots.read_changes(v0 -> head) — "
    "signed fold (+1 insert / -1 delete) merged via the algebraic "
    "merge_grouped_sums — and returned; the oracle computes the head "
    "state directly from the raw table, so any change row the feed "
    "misses, fabricates, or double-counts breaks the hash. Scale "
    "shape: the feed scans ONLY directories that changed (append "
    "chains ship just their delta files; manifest resolution is "
    "KB-sized driver catalog work), and view maintenance is one "
    "grouped aggregation of the delta plus a state-sized merge — "
    "never a rescan of history (reference analog: the reference "
    "rebuilds its combined NPZ artifacts from scratch on every "
    "update, build_utils.py's overwrite-by-filename convention).",
)
def x145(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )
    from deepcell_data_engineering_spark.sources import snapshots as snap

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    t = tempfile.mkdtemp(prefix="dde_cdc_view_")
    try:
        v0 = snap.commit(spark, docs.where(F.col("doc_id") % 3 == 0), t)
        snap.commit(
            spark, docs.where(F.col("doc_id") % 3 != 0), t, mode="append"
        )
        # compaction: replace commits are content-preserving and must
        # contribute nothing to the change feed
        head = snap.current_version(t)
        snap.commit(
            spark,
            snap.read_snapshot(spark, t).coalesce(4),
            t,
            mode="replace",
            expected_parent=head,
        )
        snap.commit(
            spark,
            docs.where(F.col("n_chars") >= 200),
            t,
            mode="overwrite",
        )

        state0 = (
            snap.read_snapshot(spark, t, v0)
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_chars").cast("bigint").alias("sum_chars"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            snap.read_changes(spark, t, from_version=v0)
            .groupBy("lang")
            .agg(
                F.sum(sign).cast("bigint").alias("n_docs"),
                F.sum(sign * F.col("n_chars")).cast("bigint").alias(
                    "sum_chars"
                ),
            )
        )
        merged = merge_grouped_sums(
            [state0, delta], ["lang"], ["n_docs", "sum_chars"]
        ).where(F.col("n_docs") != 0)
        rows = [
            (r["lang"], r["n_docs"], r["sum_chars"])
            for r in merged.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows, "lang STRING, n_docs BIGINT, sum_chars BIGINT"
    ).orderBy("lang")


@_q(
    "x146_skyline_frontier",
    """WITH d AS (SELECT len(regexp_split_to_array(trim(text), '\\s+'))
                         AS n_tokens,
                         n_chars
                  FROM documents),
       h AS (SELECT n_tokens, n_chars,
                    CAST(COUNT(*) AS BIGINT) AS n_docs
             FROM d GROUP BY 1, 2),
       best AS (SELECT n_tokens, MAX(n_chars) AS n_chars
                FROM h GROUP BY 1),
       sky AS (SELECT b.n_tokens, b.n_chars FROM best b
               WHERE NOT EXISTS (
                 SELECT 1 FROM best q
                 WHERE q.n_tokens <= b.n_tokens
                   AND q.n_chars >= b.n_chars
                   AND (q.n_tokens < b.n_tokens OR q.n_chars > b.n_chars)))
       SELECT s.n_tokens, s.n_chars, h.n_docs
       FROM sky s JOIN h USING (n_tokens, n_chars)
       ORDER BY s.n_tokens""",
    doc="Skyline / Pareto-frontier query: the documents whose "
    "(token count, char count) pair is dominated by no other under "
    "MAXIMIZE chars / MINIMIZE tokens — 'the most characters for the "
    "fewest tokens', the long-token exemplar screen (mixed-direction "
    "dominance keeps the frontier non-degenerate on corpora where "
    "the two dims are positively correlated: ~65 frontier points at "
    "sf0.01 vs 1 for maximize-both). A point is dominated if another "
    "is <= in tokens, >= in chars, strict in one. Engine derivation "
    "is frontier-over-the-VALUE-HISTOGRAM: group to distinct "
    "(n_tokens, n_chars) cells, keep max n_chars per n_tokens, then "
    "one lag-window over distinct n_tokens ASC (running max of "
    "n_chars among strictly-fewer-token points) — the ordered window "
    "runs over the distinct-value vocabulary, never rows (the "
    "disc-percentile discipline), so the plan is two grouped "
    "aggregations plus a vocabulary-sized window at any corpus size. "
    "The oracle keeps the textbook NOT EXISTS dominance anti-join "
    "over the reduced set — an independent quadratic derivation that "
    "is cheap at sf0.01 — making the hash check two different "
    "algorithms agreeing on the frontier.",
)
def x146(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from deepcell_data_engineering_spark.functions import text as tx

    d = load_table(spark, sf_dir, "documents").select(
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        "n_chars",
    )
    h = d.groupBy("n_tokens", "n_chars").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    best = h.groupBy("n_tokens").agg(F.max("n_chars").alias("n_chars"))
    # a point survives iff its char-max strictly beats every point
    # with FEWER tokens (ties on chars lose to the fewer-token point)
    w = (
        Window.orderBy(F.col("n_tokens").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        best.withColumn("_prev_max", F.max("n_chars").over(w))
        .where(
            F.col("_prev_max").isNull()
            | (F.col("n_chars") > F.col("_prev_max"))
        )
        .drop("_prev_max")
    )
    return (
        sky.join(h, ["n_tokens", "n_chars"])
        .select("n_tokens", "n_chars", "n_docs")
        .orderBy("n_tokens")
    )


@_q(
    "x147_gini_concentration",
    """WITH h AS (SELECT source, n_chars AS v,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM documents GROUP BY 1, 2),
       cum AS (SELECT source, v, c,
                      COALESCE(CAST(SUM(c) OVER (
                        PARTITION BY source ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING)::BIGINT AS BIGINT),
                        0) AS cprev
               FROM h),
       s AS (SELECT source,
                    CAST(SUM(c)::BIGINT AS BIGINT) AS n,
                    CAST(SUM(v * c)::BIGINT AS BIGINT) AS sv,
                    CAST(SUM(v * (2 * c * cprev + c * (c + 1)))::BIGINT
                         AS BIGINT) AS two_ranksum
             FROM cum GROUP BY source)
       SELECT source, n AS n_docs,
              ROUND(CAST(two_ranksum - (n + 1) * sv AS DOUBLE)
                    / CAST(n * sv AS DOUBLE) + 0.0, 6) AS gini
       FROM s ORDER BY source""",
    doc="Gini coefficient of document length per source — the "
    "concentration gate a mixture-balancing pipeline reads before "
    "sampling (a source whose token mass sits in a few huge docs "
    "needs different chunking than a uniform one). Exact rank "
    "arithmetic over the VALUE HISTOGRAM: with per-(source, length) "
    "counts c and exclusive cumulative C, the ranks of a tied block "
    "sum to c*C + c(c+1)/2, so 2*sum(i*x_i) = sum(v*(2*c*C + "
    "c*(c+1))) — all BIGINT — and G = (2*sum(i*x_i) - (n+1)*sum(x)) "
    "/ (n*sum(x)) is ONE exact-integer division, rounded once "
    "(tie-order independent by construction: equal values contribute "
    "through their rank SUM). Scale shape: one grouped count, one "
    "cumulative window over distinct lengths per source (vocabulary-"
    "sized partitions, never rows), one grouped fold; 20 output rows "
    "at any corpus size.",
)
def x147(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    h = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = h.withColumn(
        "cprev", F.coalesce(F.sum("c").over(w).cast("bigint"), F.lit(0))
    )
    s = cum.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("sv"),
        F.sum(
            F.col("v")
            * (
                F.lit(2) * F.col("c") * F.col("cprev")
                + F.col("c") * (F.col("c") + F.lit(1))
            )
        )
        .cast("bigint")
        .alias("two_ranksum"),
    )
    num = F.col("two_ranksum") - (F.col("n") + F.lit(1)) * F.col("sv")
    den = F.col("n") * F.col("sv")
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(
            num.cast("double") / den.cast("double") + F.lit(0.0), 6
        ).alias("gini"),
    ).orderBy("source")


@_q(
    "x148_proration_hamilton",
    """WITH li AS (SELECT l_orderkey, l_linenumber, l_partkey,
                          CAST(l_quantity AS BIGINT) AS q
                   FROM lineitem),
       tot AS (SELECT l_orderkey, CAST(SUM(q)::BIGINT AS BIGINT) AS qt,
                      CAST(COUNT(*) AS BIGINT) AS nl
               FROM li GROUP BY 1),
       b AS (SELECT li.l_orderkey, li.l_linenumber, li.l_partkey, li.q,
                    tot.qt,
                    (100 * li.q) // tot.qt AS base,
                    100 * li.q - tot.qt * ((100 * li.q) // tot.qt) AS rem
             FROM li JOIN tot USING (l_orderkey)),
       lv AS (SELECT l_orderkey,
                     CAST(100 - SUM(base)::BIGINT AS BIGINT) AS leftover
              FROM b GROUP BY 1),
       r AS (SELECT b.*, lv.leftover,
                    ROW_NUMBER() OVER (
                      PARTITION BY b.l_orderkey
                      ORDER BY b.rem DESC, b.q DESC,
                               b.l_linenumber, b.l_partkey) AS rn
             FROM b JOIN lv USING (l_orderkey)),
       a AS (SELECT CAST(base + CASE WHEN rn <= leftover THEN 1 ELSE 0
                                END AS BIGINT) AS alloc
             FROM r)
       SELECT alloc AS alloc_points,
              CAST(COUNT(*) AS BIGINT) AS n_lineitems
       FROM a GROUP BY 1 ORDER BY 1""",
    doc="Largest-remainder (Hamilton) proration — the allocation "
    "primitive behind 'split this order-level budget across its lines "
    "so the integer parts sum EXACTLY to the total': base_i = "
    "floor(100*q_i/Q), then the leftover 100 - sum(base) goes to the "
    "largest scaled remainders 100*q_i - Q*base_i. Everything is "
    "integer arithmetic (the d49 discipline — no floats anywhere), "
    "and the ROW_NUMBER tie order (rem DESC, q DESC, linenumber, "
    "partkey) is engine-deterministic: rows tying on BOTH rem and q "
    "have equal base, so which of them takes the +1 cannot change "
    "the output histogram. Output = distribution of allocated points "
    "over all lineitems (tie-permutation invariant by construction). "
    "Scale shape: per-order windows are bounded partitions (<= 7 "
    "lines/order — the natural key's multiplicity, not corpus size), "
    "shuffled once on l_orderkey shared by all three passes; the "
    "report is <= 101 rows at any scale.",
)
def x148(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from deepcell_data_engineering_spark.functions.layout import _int_div

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.col("l_quantity").cast("bigint").alias("q"),
    )
    tot = li.groupBy("l_orderkey").agg(
        F.sum("q").cast("bigint").alias("qt")
    )
    base = _int_div(F.lit(100) * F.col("q"), F.col("qt"))
    b = li.join(tot, "l_orderkey").select(
        "l_orderkey", "l_linenumber", "l_partkey", "q", "qt",
        base.alias("base"),
        (F.lit(100) * F.col("q") - F.col("qt") * base).alias("rem"),
    )
    lv = b.groupBy("l_orderkey").agg(
        (F.lit(100) - F.sum("base")).cast("bigint").alias("leftover")
    )
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem").desc(), F.col("q").desc(),
        F.col("l_linenumber"), F.col("l_partkey"),
    )
    alloc = (
        b.join(lv, "l_orderkey")
        .withColumn("rn", F.row_number().over(w))
        .select(
            (
                F.col("base")
                + F.when(F.col("rn") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("alloc")
        )
    )
    return (
        alloc.groupBy(F.col("alloc").alias("alloc_points"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitems"))
        .orderBy("alloc_points")
    )


@_q(
    "x149_fuzzy_vocab_pairs",
    """WITH w AS (SELECT DISTINCT unnest(
                    regexp_split_to_array(trim(p_name), '\\s+')) AS w
                  FROM part)
       SELECT a.w AS word_a, b.w AS word_b
       FROM w a JOIN w b
         ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
       ORDER BY word_a, word_b""",
    doc="Edit-distance-1 typo pairs over the part-name token "
    "VOCABULARY — the spelling-variant detector that feeds token "
    "normalization before matching (x74's fuzzy ER one level down: "
    "characters instead of fields). The p_name vocabulary yields "
    "both edit classes: a DELETION pair (cold/old — caught by the "
    "self-variant) and a SUBSTITUTION pair (red/rod — caught by the "
    "shared position-deletion), so the whole candidate lattice is "
    "exercised. Engine derivation is FastSS deletion-neighborhood "
    "blocking: each distinct word emits itself plus its |w| single-"
    "character deletions; two words are edit-distance <= 1 ONLY IF "
    "they share a variant (deletion: b IS a deletion of a; "
    "insertion: symmetric; substitution: deleting position i from "
    "both yields the same string), so an equi-join on the variant "
    "column finds every candidate — no quadratic vocab self-join — "
    "and the exact levenshtein filter removes the ed=2 false "
    "positives shared variants admit. The oracle IS the quadratic "
    "self-join: two different algorithms must agree pair-for-pair. "
    "Scale shape: pairing is vocab-bounded (distinct words, not rows "
    "— the x74 contract; the token vocabulary is corpus-sublinear), "
    "the variant table is sum(|w|+1) rows over the vocabulary, and "
    "a variant bucket holds only the words one deletion apart, so "
    "candidate volume tracks TRUE near-duplicate density, never "
    "corpus size squared. (First-cut data choices documented in the "
    "round log: the documents vocab has ZERO ed1 pairs — a 0-row "
    "certification — and id-like customer names make the TRUE answer "
    "itself quadratic in the dimension; a generated-token vocabulary "
    "is the shape this operator actually serves.)",
)
def x149(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = (
        load_table(spark, sf_dir, "part")
        .select(
            F.explode(F.split(F.trim(F.col("p_name")), r"\s+")).alias("w")
        )
        .distinct()
    )
    variants = vocab.select(
        "w", F.explode(dd.fastss1_variants(F.col("w"))).alias("v")
    )
    a = variants.alias("a")
    b = variants.alias("b")
    return (
        a.join(b, (F.col("a.v") == F.col("b.v")) & (F.col("a.w") < F.col("b.w")))
        .select(F.col("a.w").alias("word_a"), F.col("b.w").alias("word_b"))
        .distinct()
        .where(F.levenshtein("word_a", "word_b") <= 1)
        .orderBy("word_a", "word_b")
    )


@_q(
    "x150_benford_digits",
    """WITH c AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                         AS cents
                  FROM orders),
       d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                    AS digit
             FROM c WHERE cents > 0),
       o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
             FROM d GROUP BY 1),
       n AS (SELECT CAST(SUM(n_obs)::BIGINT AS BIGINT) AS n FROM o),
       e AS (SELECT g.digit,
                    ln(CAST(g.digit + 1 AS DOUBLE) / CAST(g.digit AS DOUBLE))
                      / ln(CAST(10 AS DOUBLE) / CAST(1 AS DOUBLE))
                      AS share
             FROM (SELECT DISTINCT digit FROM d) g)
       SELECT e.digit,
              COALESCE(o.n_obs, 0) AS n_obs,
              ROUND(e.share + 0.0, 6) AS benford_share,
              ROUND(
                (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                   - CAST(n.n AS DOUBLE) * e.share)
                * (CAST(COALESCE(o.n_obs, 0) AS DOUBLE)
                   - CAST(n.n AS DOUBLE) * e.share)
                / (CAST(n.n AS DOUBLE) * e.share) + 0.0, 6)
                AS chi2_term
       FROM e LEFT JOIN o USING (digit), n
       ORDER BY e.digit""",
    doc="Benford first-significant-digit conformance test over order "
    "totals — the classic fraud/synthetic-data screen a pipeline "
    "runs on ingested numeric columns: observed leading-digit counts "
    "vs the Benford share log10(1 + 1/d), with the per-digit "
    "chi-square contribution. Determinism: the digit comes from the "
    "first character of the INTEGER cents' decimal rendering (never "
    "float log10 at a power-of-ten boundary); the share is "
    "ln((d+1)/d)/ln(10/1) — every ln argument ONE exact integer "
    "division (the x44 bit-identical class) — and each chi2 term is "
    "one fixed IEEE expression tree over (exact count, that share), "
    "rounded once (x112/x144 convention). Scale shape: one "
    "conditional projection + a 9-group count; the digit domain is "
    "constant, so the report is <= 9 rows at any corpus size.",
)
def x150(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    d = (
        load_table(spark, sf_dir, "orders")
        .select(cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
    )
    o = d.groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs")
    )
    n = o.agg(F.sum("n_obs").cast("bigint").alias("n"))
    share = F.log(
        (F.col("digit") + F.lit(1)).cast("double")
        / F.col("digit").cast("double")
    ) / F.log(F.lit(10).cast("double") / F.lit(1).cast("double"))
    dev = F.col("n_obs").cast("double") - F.col("n").cast("double") * F.col(
        "share"
    )
    return (
        o.withColumn("share", share)
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("share") + F.lit(0.0), 6).alias("benford_share"),
            F.round(
                dev * dev / (F.col("n").cast("double") * F.col("share"))
                + F.lit(0.0),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


@_q(
    "x151_merge_feed_view",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders),
       fin AS (SELECT p,
                      CASE WHEN k % 17 = 7 AND k % 2 = 1 THEN cents + 2500
                           WHEN k % 17 = 7 THEN cents + 1000
                           WHEN k % 17 = 11 THEN cents - 700
                           ELSE cents END AS cents
               FROM base)
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
       FROM fin GROUP BY 1 ORDER BY 1""",
    doc="Incremental view maintenance from an UPSERT change feed — the "
    "x145 CDC certification extended to snapshots.merge_upsert: the "
    "orders table is committed minus the k%17=3 slice, then two MERGE "
    "commits land (merge 1 inserts the held-out slice and repatches "
    "the k%17=7 rows +1000 cents; merge 2 re-touches the ODD k%17=7 "
    "keys to +2500 — overwriting merge 1's update, the postimage-"
    "chaining case — and patches k%17=11 by -700). A per-priority "
    "(count, sum) view materialized at v0 is maintained PURELY from "
    "read_changes' signed fold: each replaced key ships its Delta-CDF "
    "update_preimage (-1) and update_postimage (+1), each fresh key "
    "one insert, untouched rows NOTHING. The oracle computes the "
    "final state directly from raw orders, so a feed that misses a "
    "preimage, double-ships a postimage, or leaks untouched rows "
    "breaks the hash. Scale shape: MERGE rewrites only the parent "
    "directories containing a matched key (copy-on-write at dir "
    "granularity — untouched dirs carried by reference), the change "
    "set is persisted at commit time and shipped verbatim (never a "
    "snapshot diff), and view maintenance is one grouped aggregation "
    "of the delta plus a state-sized merge.",
)
def x151(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )
    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="dde_merge_view_")
    try:
        v0 = snap.commit(spark, base.where(F.col("k") % 17 != 3), t)
        src1 = base.where(F.col("k") % 17 == 3).unionByName(
            base.where(F.col("k") % 17 == 7).withColumn(
                "cents", F.col("cents") + F.lit(1000)
            )
        )
        snap.merge_upsert(spark, src1, t, keys=["k"])
        src2 = (
            base.where((F.col("k") % 17 == 7) & (F.col("k") % 2 == 1))
            .withColumn("cents", F.col("cents") + F.lit(2500))
            .unionByName(
                base.where(F.col("k") % 17 == 11).withColumn(
                    "cents", F.col("cents") - F.lit(700)
                )
            )
        )
        head = snap.merge_upsert(spark, src2, t, keys=["k"])

        state0 = (
            snap.read_snapshot(spark, t, v0)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            snap.read_changes(spark, t, v0, head)
            .groupBy("p")
            .agg(
                F.sum(sign).cast("bigint").alias("n_orders"),
                F.sum(sign * F.col("cents")).cast("bigint").alias(
                    "sum_cents"
                ),
            )
        )
        view = merge_grouped_sums(
            [state0, delta], ["p"], ["n_orders", "sum_cents"]
        ).where(F.col("n_orders") != 0)
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in view.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
    ).orderBy("o_orderpriority")


@_q(
    "x152_kendall_tau",
    """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q,
                          CAST(ROUND(l_discount * 100, 0) AS BIGINT) AS d
                   FROM lineitem),
       cells AS (SELECT q, d, CAST(COUNT(*) AS BIGINT) AS n
                 FROM li GROUP BY 1, 2),
       cd AS (SELECT
                CAST(SUM(CASE WHEN a.q < b.q AND a.d < b.d
                              THEN a.n * b.n ELSE 0 END)::BIGINT AS BIGINT)
                  AS concordant,
                CAST(SUM(CASE WHEN a.q < b.q AND a.d > b.d
                              THEN a.n * b.n ELSE 0 END)::BIGINT AS BIGINT)
                  AS discordant
              FROM cells a, cells b),
       nn AS (SELECT CAST(SUM(n)::BIGINT AS BIGINT) AS nn FROM cells),
       tq AS (SELECT CAST(SUM(t * (t - 1) // 2)::BIGINT AS BIGINT) AS s
              FROM (SELECT CAST(SUM(n)::BIGINT AS BIGINT) AS t
                    FROM cells GROUP BY q)),
       td AS (SELECT CAST(SUM(t * (t - 1) // 2)::BIGINT AS BIGINT) AS s
              FROM (SELECT CAST(SUM(n)::BIGINT AS BIGINT) AS t
                    FROM cells GROUP BY d))
       SELECT nn.nn * (nn.nn - 1) // 2 AS n_pairs,
              cd.concordant, cd.discordant,
              tq.s AS ties_q, td.s AS ties_d,
              ROUND(
                CAST(cd.concordant - cd.discordant AS DOUBLE)
                / (sqrt(CAST(nn.nn * (nn.nn - 1) // 2 - tq.s AS DOUBLE))
                   * sqrt(CAST(nn.nn * (nn.nn - 1) // 2 - td.s AS DOUBLE)))
                + 0.0, 6) AS tau_b
       FROM cd, nn, tq, td""",
    doc="Kendall tau-b rank correlation between quantity and discount "
    "over lineitem — the ordinal-association screen (do bigger orders "
    "get deeper discounts?) a pipeline runs on discrete feature "
    "pairs. Both engines work the (quantity x discount) CONTINGENCY "
    "TABLE (<= 50x11 cells at any corpus size — the x147 value-"
    "histogram discipline), but by different algorithms: the engine "
    "densifies the cell grid (distinct-q x distinct-d, a domain-"
    "bounded cross declared to the BNLJ gate) and derives concordant/"
    "discordant pair counts from two nested window cumulations — "
    "A(q,d) = sum of counts at q'<q within d (one pass), then "
    "S(q,d) = sum of A over d'<d (second pass), C = sum n*S — linear "
    "in cells; the ORACLE evaluates the literal quadratic cell-pair "
    "double sum. Ties use exact integer arithmetic (t*(t-1)//2 per "
    "tied value, the x147 tied-rank discipline); tau_b's denominator "
    "multiplies two IEEE sqrt's of exact BIGINT differences (never "
    "the BIGINT product, which would overflow int64 at ~600k rows), "
    "and the one float division is rounded once at 6 (x112 "
    "convention). Output is ONE row of exact pair counts plus tau_b "
    "at any corpus size; int64 pair counts cap at ~4.3e9 rows — the "
    "per-group histogram path (x147) is the shard-then-merge escape "
    "hatch beyond that.",
    bnlj_bounded=1,
)
def x152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import _int_div

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("d"),
    )
    cells = li.groupBy("q", "d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    # dense domain grid so the window cumulations see every (q, d)
    # combination — 50 x 11 cells regardless of corpus size
    grid = (
        cells.select("q")
        .distinct()
        .crossJoin(cells.select("d").distinct())
        .join(cells, ["q", "d"], "left")
        .withColumn("n", F.coalesce(F.col("n"), F.lit(0)))
    )
    w_a = (
        Window.partitionBy("d")
        .orderBy("q")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_lt = (
        Window.partitionBy("q")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_gt = (
        Window.partitionBy("q")
        .orderBy("d")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    s = (
        grid.withColumn("a", F.coalesce(F.sum("n").over(w_a), F.lit(0)))
        .withColumn("s_ll", F.coalesce(F.sum("a").over(w_lt), F.lit(0)))
        .withColumn("s_lg", F.coalesce(F.sum("a").over(w_gt), F.lit(0)))
    )
    cd = s.agg(
        F.sum(F.col("n") * F.col("s_ll")).cast("long").alias("concordant"),
        F.sum(F.col("n") * F.col("s_lg")).cast("long").alias("discordant"),
    )

    def tie_sum(col: str, alias: str) -> DataFrame:
        return (
            cells.groupBy(col)
            .agg(F.sum("n").cast("long").alias("t"))
            .agg(
                F.sum(
                    _int_div(F.col("t") * (F.col("t") - 1), F.lit(2))
                )
                .cast("long")
                .alias(alias)
            )
        )

    nn = cells.agg(F.sum("n").cast("long").alias("nn"))
    stats = (
        cd.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(tie_sum("q", "ties_q")))
        .crossJoin(F.broadcast(tie_sum("d", "ties_d")))
    )
    n0 = _int_div(F.col("nn") * (F.col("nn") - 1), F.lit(2))
    denom = F.sqrt((n0 - F.col("ties_q")).cast("double")) * F.sqrt(
        (n0 - F.col("ties_d")).cast("double")
    )
    return stats.select(
        n0.cast("long").alias("n_pairs"),
        "concordant",
        "discordant",
        "ties_q",
        "ties_d",
        F.round(
            (F.col("concordant") - F.col("discordant")).cast("double")
            / denom
            + F.lit(0.0),
            6,
        ).alias("tau_b"),
    )


@_q(
    "x153_mann_whitney_u",
    """WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS f
                   FROM lineitem WHERE l_returnflag IN ('A', 'R')),
       ha AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n
              FROM li WHERE f = 'A' GROUP BY q),
       hb AS (SELECT q, CAST(COUNT(*) AS BIGINT) AS n
              FROM li WHERE f = 'R' GROUP BY q),
       u AS (SELECT CAST(SUM(CASE WHEN a.q > b.q THEN 2 * a.n * b.n
                                  WHEN a.q = b.q THEN a.n * b.n
                                  ELSE 0 END)::BIGINT AS BIGINT) AS u2
             FROM ha a, hb b),
       na AS (SELECT CAST(SUM(n)::BIGINT AS BIGINT) AS n_a FROM ha),
       nb AS (SELECT CAST(SUM(n)::BIGINT AS BIGINT) AS n_b FROM hb)
       SELECT na.n_a, nb.n_b, u.u2 AS u2_a,
              ROUND(CAST(u.u2 AS DOUBLE)
                    / CAST(na.n_a * nb.n_b AS DOUBLE) - 1.0 + 0.0, 6)
                AS rank_biserial
       FROM u, na, nb""",
    doc="Mann-Whitney U (Wilcoxon rank-sum) comparing the quantity "
    "distributions of returned ('A') vs refused ('R') line items — "
    "the distribution-free two-sample location test a pipeline runs "
    "before trusting a mean difference (x112's Welch t assumes "
    "normal-ish tails; U does not). Everything derives from the two "
    "VALUE HISTOGRAMS over the 50-value quantity domain, never row "
    "pairs: the engine computes the doubled statistic 2*U_A = "
    "sum_q nA(q) * (2*cumB(<q) + nB(q)) with ONE window cumulation "
    "over the merged histogram — exact integers throughout (ties "
    "contribute the odd half-counts to 2U, which stays integral; "
    "x147 discipline); the ORACLE evaluates the literal quadratic "
    "histogram-cell double sum. The one float op is the rank-"
    "biserial effect size r = 2U/(nA*nB) - 1, one division rounded "
    "once at 6 (x112 convention). Output is ONE row at any corpus "
    "size; the histogram is domain-bounded so the shuffle is ~50 "
    "rows whatever the row count.",
)
def x153(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("A", "R")
    )
    hist = li.groupBy(F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    u2 = (
        hist.withColumn(
            "cum_b", F.coalesce(F.sum("n_b").over(w), F.lit(0))
        )
        .agg(
            F.sum(
                F.col("n_a")
                * (F.lit(2) * F.col("cum_b") + F.col("n_b"))
            )
            .cast("long")
            .alias("u2_a"),
            F.sum("n_a").cast("long").alias("n_a"),
            F.sum("n_b").cast("long").alias("n_b"),
        )
    )
    return u2.select(
        "n_a",
        "n_b",
        "u2_a",
        F.round(
            F.col("u2_a").cast("double")
            / (F.col("n_a") * F.col("n_b")).cast("double")
            - F.lit(1.0)
            + F.lit(0.0),
            6,
        ).alias("rank_biserial"),
    )


@_q(
    "x154_ref_integrity_audit",
    """WITH ov AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 19 <> 5),
       cv AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 <> 2),
       e1 AS (SELECT l_orderkey AS k FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM ov
                                WHERE ov.o_orderkey = l.l_orderkey)),
       e2 AS (SELECT o_custkey AS k FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM cv
                                WHERE cv.c_custkey = o.o_custkey))
       SELECT edge, n_child, n_orphans, n_orphan_keys,
              ROUND(CAST(n_orphans AS DOUBLE)
                    / CAST(n_child AS DOUBLE) + 0.0, 6) AS orphan_share
       FROM (
         SELECT 'lineitem->orders' AS edge,
                CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
                CAST(COUNT(*) AS BIGINT) AS n_orphans,
                CAST(COUNT(DISTINCT k) AS BIGINT) AS n_orphan_keys
         FROM e1
         UNION ALL
         SELECT 'orders->customer',
                CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
                CAST(COUNT(*) AS BIGINT),
                CAST(COUNT(DISTINCT k) AS BIGINT)
         FROM e2
       ) ORDER BY edge""",
    doc="Referential-integrity audit across the foreign-key chain — "
    "the ingest governance gate (x123's expectations report, lifted "
    "from per-column predicates to CROSS-TABLE invariants): for each "
    "FK edge, how many child rows point at a missing parent, over "
    "how many distinct dangling keys, at what share. Parents are "
    "deterministically corrupted views (orders minus o_orderkey%19=5, "
    "customer minus c_custkey%13=2 — the x107 synthetic-breakage "
    "pattern; the raw tables are orphan-free so the un-corrupted "
    "audit would certify nothing). The ENGINE finds orphans with "
    "LEFT ANTI joins (one shuffle per edge, key-only projections — "
    "at 100 TB the parent side carries just the key column and the "
    "anti join is the same hash join any FK validation burns); the "
    "ORACLE spells NOT EXISTS correlated subqueries. Output is one "
    "row per audited edge regardless of corpus size.",
)
def x154(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )
    orders = load_table(spark, sf_dir, "orders")
    ov = orders.where(F.col("o_orderkey") % 19 != 5).select(
        F.col("o_orderkey").alias("k")
    )
    oc = orders.select(F.col("o_custkey").alias("k"))
    cv = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 13 != 2)
        .select(F.col("c_custkey").alias("k"))
    )

    def edge(child: DataFrame, parent: DataFrame, name: str) -> DataFrame:
        orphans = child.join(parent, "k", "anti").agg(
            F.count(F.lit(1)).cast("long").alias("n_orphans"),
            F.countDistinct("k").cast("long").alias("n_orphan_keys"),
        )
        total = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        return orphans.crossJoin(F.broadcast(total)).select(
            F.lit(name).alias("edge"),
            "n_child",
            "n_orphans",
            "n_orphan_keys",
        )

    report = edge(li, ov, "lineitem->orders").unionByName(
        edge(oc, cv, "orders->customer")
    )
    return report.select(
        "edge",
        "n_child",
        "n_orphans",
        "n_orphan_keys",
        F.round(
            F.col("n_orphans").cast("double")
            / F.col("n_child").cast("double")
            + F.lit(0.0),
            6,
        ).alias("orphan_share"),
    ).orderBy("edge")


@_q(
    "x155_anti_entropy_repair",
    """WITH a AS (SELECT o_orderkey AS k,
                         CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                           AS cents,
                         o_orderstatus AS st
                  FROM orders),
       b AS (SELECT k,
                    CASE WHEN k % 101 = 7 THEN cents + 1 ELSE cents END
                      AS cents,
                    st
             FROM a WHERE k % 103 <> 5),
       d AS (SELECT COALESCE(a.k, b.k) AS k,
                    CASE WHEN b.k IS NULL THEN 'missing_in_b'
                         WHEN a.k IS NULL THEN 'missing_in_a'
                         WHEN a.cents <> b.cents OR a.st <> b.st
                           THEN 'value_mismatch'
                         ELSE 'equal' END AS diff_type
             FROM a FULL OUTER JOIN b ON a.k = b.k)
       SELECT diff_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(DISTINCT k % 64) AS BIGINT) AS n_buckets
       FROM d WHERE diff_type <> 'equal'
       GROUP BY 1 ORDER BY 1""",
    doc="Anti-entropy repair drill-down between two table replicas — "
    "x130's bucket-checksum fingerprint taken to the REPAIR step a "
    "replicated lakehouse actually runs: replica B is replica A with "
    "deterministic corruption (k%101=7 rows drift +1 cent, k%103=5 "
    "rows lost — the x107 synthetic-breakage pattern). The ENGINE "
    "does the Merkle-style two-phase protocol: phase 1 compares "
    "per-bucket (row count, md5-28bit hash sum) fingerprints — 64 "
    "catalog-sized rows per replica, the only thing replicas EXCHANGE "
    "— and phase 2 row-diffs (full outer join on the key) ONLY the "
    "rows whose bucket diverged, so comparison cost tracks the "
    "DIVERGENCE, not the table: at 100 TB with one hot bucket, the "
    "row join touches 1/64th of a replica and clean buckets ship 16 "
    "bytes each. (At sf0.01 every bucket happens to diverge, so the "
    "drill-down saves nothing HERE — the certified property is "
    "equivalence, the scale property is the pruning.) The ORACLE "
    "row-diffs the ENTIRE table with one FULL OUTER JOIN and no "
    "bucketing — two independent derivations of the same repair "
    "manifest: per diff class, row count and distinct buckets "
    "touched.",
)
def x155(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("st"),
    )
    b = a.where(F.col("k") % 103 != 5).withColumn(
        "cents",
        F.when(F.col("k") % 101 == 7, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    )
    bucket = F.pmod(F.col("k"), F.lit(64)).cast("bigint")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("k").cast("string"),
                    F.col("cents").cast("string"),
                    F.col("st"),
                )
            ),
            1,
            7,
        ),
        16,
        10,
    ).cast("long")

    def fingerprint(df: DataFrame, n_col: str, c_col: str) -> DataFrame:
        return (
            df.withColumn("bucket", bucket)
            .withColumn("h", h)
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).cast("long").alias(n_col),
                F.sum("h").cast("long").alias(c_col),
            )
        )

    # phase 1: replicas exchange 64 fingerprint rows, nothing else
    diverged = (
        fingerprint(a, "n_a", "c_a")
        .join(fingerprint(b, "n_b", "c_b"), "bucket", "full")
        .where(
            ~(
                (F.col("n_a") == F.col("n_b"))
                & (F.col("c_a") == F.col("c_b"))
            )
        )
        .select("bucket")
    )
    # phase 2: row-level diff ONLY inside diverged buckets
    ra = a.withColumn("bucket", bucket).join(diverged, "bucket", "semi")
    rb = b.withColumn("bucket", bucket).join(diverged, "bucket", "semi")
    joined = ra.alias("a").join(
        rb.alias("b"), F.col("a.k") == F.col("b.k"), "full"
    )
    diff_type = (
        F.when(F.col("b.k").isNull(), "missing_in_b")
        .when(F.col("a.k").isNull(), "missing_in_a")
        .when(
            (F.col("a.cents") != F.col("b.cents"))
            | (F.col("a.st") != F.col("b.st")),
            "value_mismatch",
        )
        .otherwise("equal")
    )
    return (
        joined.select(
            diff_type.alias("diff_type"),
            F.coalesce(F.col("a.bucket"), F.col("b.bucket")).alias("bucket"),
        )
        .where(F.col("diff_type") != "equal")
        .groupBy("diff_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("bucket").cast("long").alias("n_buckets"),
        )
        .orderBy("diff_type")
    )


@_q(
    "x156_grouped_ols",
    """WITH li AS (SELECT l_returnflag,
                          CAST(l_quantity AS BIGINT) AS x,
                          CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                            AS y
                   FROM lineitem)
       SELECT l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              ROUND(regr_slope(y, x) + 0.0, 4) AS slope_cents,
              ROUND(regr_intercept(y, x) + 0.0, 2) AS intercept_cents,
              ROUND(regr_r2(y, x) + 0.0, 6) AS r2
       FROM li GROUP BY 1 ORDER BY 1""",
    doc="Grouped least-squares regression — extendedprice (cents) on "
    "quantity per returnflag: the per-segment trend fit a pipeline "
    "health dashboard runs over every numeric pair (alongside x112's "
    "Welch t and x152's Kendall tau-b). The ENGINE computes the five "
    "moment sums n, Sx, Sy, Sxy, Sxx, Syy EXACTLY in decimal(38,0) "
    "(inputs are integral: quantity 1-50, price in cents; Syy "
    "overflows int64 beyond ~sf0.1, hence decimal) in ONE grouped "
    "aggregation, then derives slope = (n*Sxy - Sx*Sy)/(n*Sxx - "
    "Sx^2), intercept = (Sy*Sxx - Sx*Sxy)/(n*Sxx - Sx^2) and r2 = "
    "num^2/(den*(n*Syy - Sy^2)) as single divisions of exact "
    "integers (the x44 discipline: one float op per output, rounded "
    "once). The ORACLE is DuckDB's own regr_slope/regr_intercept/"
    "regr_r2 streaming-covariance aggregates — a fully independent "
    "third-party implementation, so agreement certifies the closed "
    "form against a different algorithm in a different engine. "
    "Scale shape: one map-side-combinable aggregation over 3 groups; "
    "no window, no join, output 3 rows at any corpus size.",
)
def x156(spark: SparkSession, sf_dir: str) -> DataFrame:
    d38 = "decimal(38,0)"
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("y"),
    )
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den_y = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    inum = (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).cast(
        "double"
    )
    return s.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n_rows"),
        F.round(num / den + F.lit(0.0), 4).alias("slope_cents"),
        F.round(inum / den + F.lit(0.0), 2).alias("intercept_cents"),
        F.round(num * num / (den * den_y) + F.lit(0.0), 6).alias("r2"),
    ).orderBy("l_returnflag")


@_q(
    "x157_mutual_information",
    """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
       m AS (SELECT lang, source, n,
                    SUM(n) OVER (PARTITION BY lang) AS nx,
                    SUM(n) OVER (PARTITION BY source) AS ny,
                    SUM(n) OVER () AS nn
             FROM c)
       SELECT lang, source, n AS n_cell,
              CAST(nx AS BIGINT) AS n_lang,
              CAST(ny AS BIGINT) AS n_source,
              ROUND(CAST(n * nn AS DOUBLE) / CAST(nx * ny AS DOUBLE)
                    + 0.0, 6) AS lift,
              ROUND(2.0 * n * ln(CAST(n * nn AS DOUBLE)
                                 / CAST(nx * ny AS DOUBLE)) + 0.0, 6)
                AS g_term
       FROM m ORDER BY lang, source""",
    doc="Categorical association audit — the (lang, source) "
    "contingency table with per-cell lift n*N/(n_lang*n_source) and "
    "G-test terms 2*n*ln(lift) (G = 2*N*MI in nats: summing g_term "
    "gives the log-likelihood-ratio independence statistic). The "
    "corpus-governance question it answers: is a source "
    "over-contributing one language (cell lift >> 1), i.e. does "
    "stratifying the mixture by source silently reweight languages "
    "(x52's temperature mix assumes near-independence). ENGINE: one "
    "CUBE pass over (lang, source) — grouping_id splits the single "
    "shuffled aggregate into cells + both marginals (the x133 "
    "one-Expand discipline), marginals broadcast back onto cells; "
    "the grand total re-aggregates the cells GLOBALLY (exchange "
    "reuse, same shuffle) so its 1-row attach is plan-PROVABLE for "
    "the BNLJ gate rather than a by-construction claim. ORACLE: "
    "window sums over the cell table — a different derivation of the "
    "same margins. Both engines compute lift as ONE double division "
    "of exact int64 products and ln() on that identical double "
    "(libm-vs-JVM ulp noise is ~1e-15, six orders below the 1e-6 "
    "rounding grain). Cells are vocabulary-sized (|langs| x "
    "|sources|), so every post-shuffle relation is catalog-sized at "
    "100 TB.",
)
def x157(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL keys excluded on BOTH sides (the x133 discipline): the
    # marginal attaches below are null-unsafe inner joins, while the
    # oracle's window sums would retain NULL-keyed cells — filtering
    # first keeps the two derivations aligned whatever the data.
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cube = docs.cube("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.grouping_id().alias("gid"),
    )
    cells = cube.where(F.col("gid") == 0).select("lang", "source", "n")
    lang_m = cube.where(F.col("gid") == 1).select(
        "lang", F.col("n").alias("n_lang")
    )
    src_m = cube.where(F.col("gid") == 2).select(
        "source", F.col("n").alias("n_source")
    )
    # grand total as a GLOBAL aggregate over the cells (not the cube's
    # gid==3 slice): same one shuffle via exchange reuse, but the 1-row
    # attach becomes plan-PROVABLE for the BNLJ gate instead of a
    # by-construction claim.
    total = cells.agg(F.sum("n").cast("long").alias("nn"))
    lift = (F.col("n") * F.col("nn")).cast("double") / (
        F.col("n_lang") * F.col("n_source")
    ).cast("double")
    return (
        cells.join(F.broadcast(lang_m), "lang")
        .join(F.broadcast(src_m), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            F.col("n").alias("n_cell"),
            "n_lang",
            "n_source",
            F.round(lift + F.lit(0.0), 6).alias("lift"),
            F.round(
                F.lit(2.0) * F.col("n") * F.log(lift) + F.lit(0.0), 6
            ).alias("g_term"),
        )
        .orderBy("lang", "source")
    )


@_q(
    "x158_ks_two_sample",
    """WITH a AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
                  FROM orders WHERE o_orderpriority = '1-URGENT'),
       b AS (SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v
             FROM orders WHERE o_orderpriority = '5-LOW'),
       pts AS (SELECT DISTINCT v
               FROM (SELECT v FROM a UNION ALL SELECT v FROM b)),
       na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a),
       nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
       f AS (SELECT pts.v,
                    (SELECT COUNT(*) FROM a WHERE a.v <= pts.v) AS ca,
                    (SELECT COUNT(*) FROM b WHERE b.v <= pts.v) AS cb
             FROM pts),
       d AS (SELECT f.v,
                    ABS(ca * nb.n - cb * na.n) AS dn
             FROM f, na, nb)
       SELECT na.n AS n_a, nb.n AS n_b,
              CAST((SELECT MAX(dn) FROM d) AS BIGINT) AS d_num,
              ROUND(CAST((SELECT MAX(dn) FROM d) AS DOUBLE)
                    / CAST(na.n * nb.n AS DOUBLE) + 0.0, 6) AS ks_d,
              (SELECT MIN(v) FROM d
               WHERE dn = (SELECT MAX(dn) FROM d)) AS ks_at_cents
       FROM na, nb""",
    doc="Two-sample Kolmogorov-Smirnov distance between the "
    "total-price distributions of URGENT vs LOW orders — the "
    "whole-CDF drift test that catches shape changes x141's binned "
    "PSI and x153's location-only rank-sum both miss. The statistic "
    "kernel is functions/stats.ks_distance over the merged VALUE "
    "HISTOGRAM — the histogram is this statistic's mergeable STATE, "
    "so the identical kernel powers the streaming drift monitor "
    "(tests pin maintained-state KS == this batch KS). Everything is "
    "EXACT integer arithmetic until the last division: D's numerator "
    "is max_v |cumA(v)*nB - cumB(v)*nA| over the merged cents "
    "histogram, so ks_d = D_num/(nA*nB) is one rounded float. The "
    "ENGINE builds the merged value histogram (one shuffle), runs "
    "grouped_cumsum — the two-phase distributed prefix scan from "
    "functions/layout, NOT a single-partition window, because price "
    "cents are near-unique so the histogram is row-sized — scanning "
    "BOTH sides' counts over one shared range layout (the multi-"
    "column form added for this query: chaining two calls nests "
    "range partitioners whose branches re-sample splits and trip "
    "the divergence guard), and attaches the "
    "1-row (nA, nB) and max-D aggregates as bounded composition "
    "attaches. ks_at_cents reports the smallest value achieving the "
    "sup (ties broken by MIN, so the argmax is deterministic). The "
    "ORACLE evaluates the literal textbook definition: for every "
    "distinct sample point, correlated COUNT(*) subqueries re-scan "
    "both samples (quadratic — fine at the oracle's sf). At 100 TB "
    "the engine's cost is two scans + one histogram shuffle + a "
    "prefix scan whose ordered windows run per range-partition.",
)
def x158(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.stats import ks_distance

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    hist = o.groupBy(
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("v")
    ).agg(
        F.sum(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
        )
        .cast("long")
        .alias("h_a"),
        F.sum(
            F.when(F.col("o_orderpriority") == "5-LOW", 1).otherwise(0)
        )
        .cast("long")
        .alias("h_b"),
    )
    return ks_distance(hist, "v", "h_a", "h_b").withColumnRenamed(
        "ks_at", "ks_at_cents"
    )


@_q(
    "x159_market_basket",
    """WITH ib AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
                   FROM lineitem JOIN part ON l_partkey = p_partkey),
       pr AS (SELECT x.b AS brand_a, y.b AS brand_b,
                     CAST(COUNT(*) AS BIGINT) AS n_ab
              FROM ib x JOIN ib y ON x.o = y.o AND x.b < y.b
              GROUP BY 1, 2),
       bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n FROM ib GROUP BY 1),
       t AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM ib)
       SELECT pr.brand_a, pr.brand_b, pr.n_ab,
              ca.n AS n_a, cb.n AS n_b,
              ROUND(CAST(pr.n_ab AS DOUBLE) / CAST(t.n AS DOUBLE)
                    + 0.0, 6) AS support,
              ROUND(CAST(pr.n_ab AS DOUBLE) / CAST(ca.n AS DOUBLE)
                    + 0.0, 6) AS confidence,
              ROUND(CAST(pr.n_ab * t.n AS DOUBLE)
                    / CAST(ca.n * cb.n AS DOUBLE) + 0.0, 6) AS lift
       FROM pr
       JOIN bc ca ON ca.b = pr.brand_a
       JOIN bc cb ON cb.b = pr.brand_b
       CROSS JOIN t
       ORDER BY brand_a, brand_b""",
    doc="Market-basket association rules over order itemsets — brand "
    "pairs co-purchased in one order, with support n_ab/N, "
    "confidence n_ab/n_a and lift n_ab*N/(n_a*n_b): the co-occurrence "
    "mining shape that also powers tag-affinity and "
    "topics-that-travel-together corpus audits. The ENGINE never "
    "self-joins the itemset table: per-order brand sets (bounded — "
    "~4 lines/order against a 25-brand vocabulary) are collected "
    "once, and the a<b pairs are generated ROW-LOCALLY by a nested "
    "array-HOF (transform x slice inside flatten), so pair "
    "generation is map-side and the only shuffles are the itemset "
    "dedup and the pair count — per-order work is quadratic only in "
    "the ORDER size, which is data-model-bounded, never in the "
    "corpus. Per-brand counts and the 1-row N attach are broadcast. "
    "The ORACLE generates the same pairs with the literal equi-self-"
    "join on order key. Exact int64 counts; the three ratios are "
    "single rounded divisions (x44 discipline). Output is at most "
    "C(25,2)=300 rows at any scale.",
)
def x159(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("o", F.col("p_brand").alias("b"))
        .distinct()
    )
    pairs = (
        items.groupBy("o")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.a").alias("brand_a"), F.col("p.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    bc = items.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = items.agg(
        F.countDistinct("o").cast("long").alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(bc.select(F.col("b").alias("brand_a"),
                                  F.col("n").alias("n_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(bc.select(F.col("b").alias("brand_b"),
                                  F.col("n").alias("n_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            F.round(
                F.col("n_ab").cast("double")
                / F.col("n_orders").cast("double")
                + F.lit(0.0),
                6,
            ).alias("support"),
            F.round(
                F.col("n_ab").cast("double") / F.col("n_a").cast("double")
                + F.lit(0.0),
                6,
            ).alias("confidence"),
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
                + F.lit(0.0),
                6,
            ).alias("lift"),
        )
        .orderBy("brand_a", "brand_b")
    )


@_q(
    "x160_weighted_quantiles",
    """WITH e AS (SELECT l_returnflag AS f,
                         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                           AS v
                  FROM lineitem,
                       LATERAL (SELECT unnest(generate_series(1,
                         CAST(l_quantity AS BIGINT)))) AS u(i)),
       r AS (SELECT f, v,
                    ROW_NUMBER() OVER (PARTITION BY f ORDER BY v) AS rn
             FROM e),
       w AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS tw FROM e GROUP BY 1),
       p AS (SELECT * FROM (VALUES ('p25', 1, 4), ('p50', 1, 2),
                                   ('p75', 3, 4), ('p90', 9, 10))
             AS t(pct, nu, de)),
       k AS (SELECT w.f, p.pct, w.tw,
                    (p.nu * w.tw + p.de - 1) // p.de AS kk
             FROM w CROSS JOIN p)
       SELECT k.f AS l_returnflag, k.pct,
              CAST(k.kk AS BIGINT) AS k_target,
              k.tw AS total_w,
              r.v AS value_cents
       FROM k JOIN r ON r.f = k.f AND r.rn = k.kk
       ORDER BY l_returnflag, pct""",
    doc="Weighted percentiles — extendedprice cents weighted by "
    "quantity per returnflag, the unit-economics question (price "
    "level at the q-th UNIT, not the q-th line) every revenue "
    "dashboard needs and no built-in percentile answers. Lower "
    "weighted-quantile convention: the least value whose cumulative "
    "weight reaches ceil(p*W), with the target rank computed in "
    "EXACT integer arithmetic as (nu*W + de - 1) div de from the "
    "fraction nu/de — never float p*W, whose binary representation "
    "(0.9) could tip a ceil across engines. The ENGINE aggregates "
    "the per-(flag, value) WEIGHT histogram, runs the grouped_cumsum "
    "two-phase scan over it (value domain is row-sized; no single-"
    "partition window), and picks min(v) with cum >= k via a "
    "broadcast of the 12-row (flag, pct, k) frame. The ORACLE "
    "brute-force EXPANDS every line into `quantity` unit rows "
    "(generate_series lateral — the literal definition of a weighted "
    "quantile) and row-numbers each flag to read the k-th unit "
    "directly: two independent algorithms, identical integer "
    "answers. Ties are safe in both: equal values share a cents key "
    "in the histogram, and whatever order ROW_NUMBER breaks ties in, "
    "the VALUE at rank k is unique. Output: 12 rows at any scale. "
    "Declared BNLJ bound (1): the per-flag totals x percentile-"
    "literals cross attach — |l_returnflag domain| (3) x 4 rows, "
    "data-size-independent but a grouped aggregate, so not "
    "plan-provable.",
    bnlj_bounded=1,
)
def x160(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        _int_div,
        grouped_cumsum,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("v"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    hist = li.groupBy("f", "v").agg(F.sum("w").alias("wc"))
    cum = grouped_cumsum(hist, ["f"], "v", "wc")
    tot = hist.groupBy("f").agg(F.sum("wc").cast("long").alias("total_w"))
    pcts = local_frame(
        spark, [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10)],
        "pct STRING, nu LONG, de LONG",
    )
    # the 12-row frame renames f -> flag BEFORE the join: with the
    # qualified-alias form Catalyst's self-join dedup failed to extract
    # the equality as a hash key (both sides trace to hist.f) and fell
    # back to BroadcastNestedLoopJoin; with a fresh attribute the plan
    # is a BroadcastHashJoin on the flag with the cum >= k residual.
    # (r14 rejected experiment, measured: collecting tot to the driver
    # and rebuilding ks from LOCAL data cut executed fact scans 5 -> 3
    # but ran 4x the tasks — AQE stopped coalescing the cum subtree's
    # exchanges — and 2.4 -> 16 s wall isolated. The tot-under-
    # broadcast shape stands.)
    ks = tot.crossJoin(F.broadcast(pcts)).select(
        F.col("f").alias("flag"),
        "pct",
        "total_w",
        _int_div(
            F.col("nu") * F.col("total_w") + F.col("de") - F.lit(1),
            F.col("de"),
        ).alias("k_target"),
    )
    return (
        cum.join(
            F.broadcast(ks),
            (F.col("f") == F.col("flag"))
            & (F.col("cum") >= F.col("k_target")),
        )
        .groupBy(
            F.col("flag").alias("l_returnflag"),
            "pct",
            "k_target",
            "total_w",
        )
        .agg(F.min("v").alias("value_cents"))
        .select(
            "l_returnflag", "pct", "k_target", "total_w", "value_cents"
        )
        .orderBy("l_returnflag", "pct")
    )


@_q(
    "x161_heaps_law",
    """WITH tk AS (SELECT doc_id,
                          unnest(regexp_split_to_array(trim(text),
                                                       '\\s+')) AS tok
                   FROM documents),
       nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
       ck AS (SELECT CAST(i AS BIGINT) AS decile,
                     (nd.n * i + 9) // 10 AS k
              FROM nd, (SELECT unnest(generate_series(1, 10)) AS i)),
       ordd AS (SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
                FROM documents),
       th AS (SELECT ck.decile, ck.k, o.doc_id AS cutoff
              FROM ck JOIN ordd o ON o.rn = ck.k),
       agg AS (SELECT th.decile, th.k,
                      (SELECT CAST(COUNT(*) AS BIGINT) FROM tk
                       WHERE tk.doc_id <= th.cutoff) AS cum_tokens,
                      (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM tk
                       WHERE tk.doc_id <= th.cutoff) AS vocab
               FROM th)
       SELECT decile, CAST(k AS BIGINT) AS n_docs, cum_tokens, vocab,
              ROUND(CAST(vocab AS DOUBLE) / CAST(cum_tokens AS DOUBLE)
                    + 0.0, 6) AS ttr
       FROM agg ORDER BY decile""",
    doc="Vocabulary growth curve (Heaps' law) — cumulative corpus "
    "tokens vs cumulative distinct vocabulary at each decile of the "
    "doc_id-ordered corpus, plus the type-token ratio: the tokenizer-"
    "budget planning curve (how fast does vocab saturate as the "
    "corpus grows) that sits upstream of x68's BPE training and "
    "x25's vocab coverage. The ENGINE makes ONE tokenization pass: "
    "each token's FIRST-occurrence doc (min doc_id per token — one "
    "shuffle on token) converts 'distinct vocabulary so far' into a "
    "per-doc new-word count whose prefix sum is the vocab curve, so "
    "cum_tokens, vocab and the doc rank all come from a single "
    "multi-column grouped_cumsum over the per-doc table (the "
    "two-phase scan; no single-partition window, no per-checkpoint "
    "rescans) with the 10-row checkpoint frame broadcast onto rank "
    "equality. The ORACLE re-counts every checkpoint from scratch — "
    "COUNT(DISTINCT tok) over each doc_id prefix, ten literal "
    "re-scans. Checkpoint ranks are exact integer ceil((N*i) / 10); "
    "ttr is the one rounded division. At 100 TB the engine cost is "
    "one explode + two shuffles regardless of checkpoint count.",
)
def x161(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        _int_div,
        grouped_cumsum,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok"),
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok")
    )
    new_per_doc = (
        tok.groupBy("tok")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    # anchor on ALL doc_ids, not the tokenized table: a NULL-text doc
    # yields no explode rows, but the oracle's ROW_NUMBER (and nd)
    # rank every document — without the left joins its absence would
    # shift cum_one past every later checkpoint.
    d = (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(new_per_doc, "doc_id", "left")
        .fillna(0, ["n_tok", "n_new"])
        .withColumn("one", F.lit(1).cast("long"))
    )
    cums = grouped_cumsum(d, [], "doc_id", ["n_tok", "n_new", "one"])
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    ck = nd.crossJoin(F.broadcast(deciles)).select(
        "decile",
        _int_div(
            F.col("n") * F.col("decile") + F.lit(9), F.lit(10)
        ).alias("k"),
    )
    return (
        cums.join(F.broadcast(ck), cums.cum_one == ck.k)
        .select(
            "decile",
            F.col("k").alias("n_docs"),
            F.col("cum_n_tok").alias("cum_tokens"),
            F.col("cum_n_new").alias("vocab"),
            F.round(
                F.col("cum_n_new").cast("double")
                / F.col("cum_n_tok").cast("double")
                + F.lit(0.0),
                6,
            ).alias("ttr"),
        )
        .orderBy("decile")
    )


@_q(
    "x162_delete_feed_view",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders),
       fin AS (SELECT p, cents FROM base
               WHERE k % 13 <> 4
                 AND NOT (k % 29 = 1 AND p = '5-LOW'))
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents
       FROM fin GROUP BY 1 ORDER BY 1""",
    doc="Incremental view maintenance from a DELETE change feed — the "
    "x145 (append/overwrite) and x151 (MERGE) certifications extended "
    "to snapshots.delete_where, completing the CRUD feed surface: the "
    "orders table lands in two appended directories, then two DELETE "
    "commits remove k%13=4 rows (touches both dirs) and the LOW-"
    "priority k%29=1 slice (a predicate whose survivors must include "
    "every non-matching row of the rewritten dirs). A per-priority "
    "(count, sum) view materialized BEFORE the deletes is advanced "
    "purely from read_changes' signed fold — each deleted row ships "
    "exactly one 'delete' feed row (-1), survivors of the rewritten "
    "directories ship NOTHING even though they were physically "
    "copied. The oracle computes the final state directly from raw "
    "orders with both predicates, so a feed that leaks a survivor, "
    "misses a deleted row, or double-ships across the two commits "
    "breaks the hash. Scale shape: delete rewrites only directories "
    "containing a match (copy-on-write at dir granularity), the "
    "change set is persisted at commit time and shipped verbatim, "
    "and maintenance is one grouped fold of the delta plus a "
    "state-sized merge.",
)
def x162(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )
    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="dde_delete_view_")
    try:
        snap.commit(spark, base.where(F.col("k") % 2 == 0), t)
        v_base = snap.commit(
            spark, base.where(F.col("k") % 2 == 1), t, mode="append"
        )
        snap.delete_where(spark, t, "k % 13 = 4")
        head = snap.delete_where(spark, t, "k % 29 = 1 AND p = '5-LOW'")

        state0 = (
            snap.read_snapshot(spark, t, v_base)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            snap.read_changes(spark, t, v_base, head)
            .groupBy("p")
            .agg(
                F.sum(sign).cast("bigint").alias("n_orders"),
                F.sum(sign * F.col("cents")).cast("bigint").alias(
                    "sum_cents"
                ),
            )
        )
        view = merge_grouped_sums(
            [state0, delta], ["p"], ["n_orders", "sum_cents"]
        ).where(F.col("n_orders") != 0)
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in view.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
    ).orderBy("o_orderpriority")


@_q(
    "x163_lorenz_deciles",
    """WITH cust AS (SELECT o_custkey,
                            CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                          AS BIGINT)) AS BIGINT) AS rev
                     FROM orders GROUP BY 1),
       n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
                    CAST(SUM(rev) AS BIGINT) AS total
             FROM cust),
       r AS (SELECT rev,
                    ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS rn
             FROM cust),
       ck AS (SELECT CAST(i AS BIGINT) AS decile,
                     (n.nc * i + 9) // 10 AS k, n.nc, n.total
              FROM n, (SELECT unnest(generate_series(1, 10)) AS i)),
       agg AS (SELECT ck.decile, ck.k, ck.total,
                      (SELECT CAST(SUM(rev) AS BIGINT) FROM r
                       WHERE r.rn <= ck.k) AS cum_rev
               FROM ck)
       SELECT decile, CAST(k AS BIGINT) AS n_customers,
              cum_rev AS cum_rev_cents,
              ROUND(CAST(cum_rev AS DOUBLE) / CAST(total AS DOUBLE)
                    + 0.0, 6) AS rev_share
       FROM agg ORDER BY decile""",
    doc="Lorenz curve — cumulative revenue share of the bottom k "
    "customer deciles (customers ranked by total spend ascending): "
    "the concentration CURVE whose area complement x147's Gini "
    "summarizes to one number; a mixture/governance dashboard wants "
    "both. The ENGINE never row-ranks: from the per-customer revenue "
    "VALUE HISTOGRAM (distinct spend values with counts and "
    "value-sums), one grouped_cumsum yields (customers <=v, revenue "
    "<=v); the cumulative revenue AT RANK k is cum_rev(<v*) + "
    "(k - cum_n(<v*)) * v* for the straddling value cell v* — exact "
    "because every customer inside a tied cell has THE SAME revenue, "
    "so whichever tied customers the rank boundary splits, the sum "
    "is tie-permutation invariant (the x148 discipline). The ORACLE "
    "literally ROW_NUMBERs every customer (ties broken by key — "
    "irrelevant to the certified sums) and re-sums each decile "
    "prefix from scratch. Checkpoint ranks are exact integer "
    "ceil(N*i/10); rev_share is the one rounded division. Engine "
    "cost at any scale: one per-customer aggregation, one "
    "vocabulary-sized histogram prefix scan, a 10-row broadcast.",
)
def x163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        _int_div,
        grouped_cumsum,
    )

    cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            )
            .cast("long")
            .alias("rev")
        )
    )
    hist = cust.groupBy("rev").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("rev").cast("long").alias("rv"),
    )
    cum = grouped_cumsum(hist, [], "rev", ["c", "rv"])
    totals = hist.agg(
        F.sum("c").cast("long").alias("nc"),
        F.sum("rv").cast("long").alias("total"),
    )
    deciles = spark.range(1, 11).select(F.col("id").alias("decile"))
    ck = totals.crossJoin(F.broadcast(deciles)).select(
        "decile",
        "total",
        _int_div(
            F.col("nc") * F.col("decile") + F.lit(9), F.lit(10)
        ).alias("k"),
    )
    # the straddling value cell: least rev with cum_c >= k; its
    # predecessor counts/sums come from the same row (cum - cell)
    hit = (
        cum.join(F.broadcast(ck), F.col("cum_c") >= F.col("k"))
        .groupBy("decile", "k", "total")
        .agg(F.min_by(F.struct("rev", "c", "rv", "cum_c", "cum_rv"), "rev").alias("s"))
        .select(
            "decile",
            "k",
            "total",
            (
                F.col("s.cum_rv")
                - F.col("s.rv")
                + (F.col("k") - (F.col("s.cum_c") - F.col("s.c")))
                * F.col("s.rev")
            ).alias("cum_rev_cents"),
        )
    )
    return hit.select(
        "decile",
        F.col("k").alias("n_customers"),
        "cum_rev_cents",
        F.round(
            F.col("cum_rev_cents").cast("double")
            / F.col("total").cast("double")
            + F.lit(0.0),
            6,
        ).alias("rev_share"),
    ).orderBy("decile")


@_q(
    "x164_stats_pruned_scan",
    """WITH m AS (SELECT CAST(MAX(o_orderkey) AS BIGINT) AS mk
                  FROM orders),
       b AS (SELECT ((2 * (m.mk + 1)) + 7) // 8 AS lo,
                    (5 * (m.mk + 1)) // 8 - 1 AS hi, m.mk
             FROM m),
       hit AS (SELECT o.o_orderpriority, o.o_orderkey,
                      CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                        AS cents,
                      (o.o_orderkey * 8) // (b.mk + 1) AS band
               FROM orders o, b
               WHERE o.o_orderkey BETWEEN b.lo AND b.hi),
       nd AS (SELECT CAST(COUNT(DISTINCT band) AS BIGINT)
                       AS n_dirs_scanned
              FROM hit)
       SELECT hit.o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              nd.n_dirs_scanned,
              CAST(8 AS BIGINT) AS n_dirs_total
       FROM hit, nd
       GROUP BY 1, 4, 5 ORDER BY 1""",
    doc="Manifest-level data skipping certified end to end — the "
    "Delta/Iceberg stats-pruning idea on the snapshot log: orders "
    "land in 8 key-banded directories, each commit recording its "
    "per-dir [min,max] orderkey in the MANIFEST (snapshots.commit "
    "stats_cols), and the ENGINE answers a key-range aggregate via "
    "scan_snapshot — KB of manifest JSON decide which directories "
    "are touched; dirs whose recorded range cannot intersect the "
    "predicate are never read, and the result row carries "
    "n_dirs_scanned straight from the pruner. The ORACLE re-derives "
    "BOTH facts independently from raw data: the aggregate from the "
    "literal BETWEEN, and the dir count as COUNT(DISTINCT key-band) "
    "over the matching rows — the same 3-of-8 answer via data "
    "arithmetic instead of manifest stats, so a pruner that reads "
    "too much OR too little breaks the hash (too little would also "
    "corrupt the sums). Pruning is an optimization CONTRACT: "
    "scan_snapshot may return overlap rows, so the engine applies "
    "the real predicate on top, exactly like parquet row-group "
    "skipping. Lakehouse-certification tier (x127/x145/x151/x162 "
    "pattern): the commits are the operator under test; the driver-"
    "side collects are the bounded max-key scalar and the 5-row "
    "result.",
)
def x164(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    band = (F.col("k") * 8 - F.pmod(F.col("k") * 8, F.lit(mk + 1))) / (
        mk + 1
    )
    banded = base.withColumn("band", band.cast("long"))
    t = tempfile.mkdtemp(prefix="dde_pruned_scan_")
    try:
        head = None
        for i in range(8):
            head = snap.commit(
                spark,
                banded.where(F.col("band") == i).drop("band"),
                t,
                mode="append" if i else "overwrite",
                stats_cols=["k"],
            )
        lo = (2 * (mk + 1) + 7) // 8
        hi = 5 * (mk + 1) // 8 - 1
        manifest = snap._load_manifest(t, head, snap._POSIX)
        kept = snap._prune_dirs(manifest, {"k": (lo, hi)})
        view = (
            snap.scan_snapshot(spark, t, {"k": (lo, hi)}, version=head)
            .where(F.col("k").between(lo, hi))
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in view.collect()
        ]
        n_kept, n_total = len(kept), len(manifest["dirs"])
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_dirs_scanned", F.lit(n_kept).cast("bigint"))
        .withColumn("n_dirs_total", F.lit(n_total).cast("bigint"))
        .orderBy("o_orderpriority")
    )


@_q(
    "x165_catalog_named_view",
    """SELECT c.c_mktsegment,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents
       FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       GROUP BY 1 ORDER BY 1""",
    doc="Catalog naming layer certified end to end — the ergonomic "
    "gap a real lakehouse user hits first: tables addressed BY NAME "
    "through sources/table_catalog.SnapshotCatalog instead of raw "
    "paths. The ENGINE commits a fact table (orders) and a dimension "
    "(customer) as snapshot tables, registers both names in a "
    "catalog (itself a put-if-absent versioned log, so concurrent "
    "DDL linearizes like commits), resolves them back via "
    "register_temp_view, and answers the star join entirely in "
    "spark.sql over the VIEW NAMES — name -> catalog log -> manifest "
    "-> directory list, no path in the query text. The views pin the "
    "RESOLVED snapshot version (read isolation: a later commit "
    "cannot shift a running query). The ORACLE runs the same star "
    "join on the raw parquet — any wrong resolution (stale version, "
    "wrong table, dropped dirs) breaks counts and sums. Lakehouse-"
    "certification tier (x127/x132/x145/x151/x162/x164 pattern): "
    "the commits ARE the operator under test; driver-side work is "
    "catalog-sized JSON plus the bounded result collect.",
)
def x165(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    root = tempfile.mkdtemp(prefix="dde_catalog_")
    try:
        t_facts = f"{root}/facts"
        t_dim = f"{root}/dim"
        snap.commit(spark, facts, t_facts)
        snap.commit(spark, dim, t_dim)
        cat = SnapshotCatalog(f"{root}/cat")
        cat.create_table("x165_facts", t_facts)
        cat.create_table("x165_dim", t_dim)
        cat.register_temp_view(spark, "x165_facts")
        cat.register_temp_view(spark, "x165_dim")
        try:
            view = spark.sql(
                """SELECT d.segment AS c_mktsegment,
                          CAST(COUNT(*) AS BIGINT) AS n_orders,
                          CAST(SUM(f.cents) AS BIGINT) AS sum_cents
                   FROM x165_facts f
                   JOIN x165_dim d ON f.custkey = d.custkey
                   GROUP BY d.segment"""
            )
            rows = [
                (r["c_mktsegment"], r["n_orders"], r["sum_cents"])
                for r in view.collect()
            ]
        finally:
            spark.catalog.dropTempView("x165_facts")
            spark.catalog.dropTempView("x165_dim")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows, "c_mktsegment STRING, n_orders BIGINT, sum_cents BIGINT"
    ).orderBy("c_mktsegment")


@_q(
    "x166_scoped_cdc_view",
    """WITH m AS (SELECT CAST(MAX(o_orderkey) AS BIGINT) AS mk
                  FROM orders),
       b AS (SELECT (3 * (m.mk + 1)) // 8 - 1 AS hi, m.mk FROM m),
       base AS (SELECT o.o_orderkey AS k, o.o_orderpriority AS p,
                       CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                         AS cents,
                       (o.o_orderkey * 8) // (b.mk + 1) AS band
                FROM orders o, b),
       hit AS (SELECT base.* FROM base, b WHERE base.k <= b.hi),
       nd AS (SELECT CAST(COUNT(DISTINCT band) AS BIGINT)
                       AS n_delta_dirs_scanned
              FROM hit WHERE band >= 1)
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              nd.n_delta_dirs_scanned
       FROM hit, nd GROUP BY 1, 4 ORDER BY 1""",
    doc="Predicate-scoped CDC certified end to end — read_changes' "
    "ranges pruning (the scan_snapshot stats-skipping contract "
    "threaded through the change feed): orders land as a band-0 base "
    "commit plus 7 key-banded APPEND deltas, each recording per-dir "
    "[min,max] orderkey stats in its manifest. A consumer maintains "
    "a view RESTRICTED to the low key range (bands 0-2): state "
    "materialized at the base version plus a fold of "
    "read_changes(ranges=...), which must touch ONLY the delta "
    "directories whose recorded stats intersect the range — 2 of 7. "
    "The result row carries that count from the same manifest "
    "arithmetic the feed pruner runs. The ORACLE re-derives BOTH "
    "facts from raw data: the restricted aggregate from the literal "
    "k <= hi predicate, and the pruned-dir count as COUNT(DISTINCT "
    "band) over matching delta rows — exact because dir stats are "
    "true row min/max, so a delta dir intersects the range iff it "
    "contributes a matching row. Pruning stays an optimization "
    "CONTRACT: the fold re-applies the real predicate on the feed. "
    "At 100 TB a scoped consumer (one tenant, one key shard) reads "
    "KB of manifest + its own slice of each delta, never every "
    "commit's full payload. Lakehouse-certification tier.",
)
def x166(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )
    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    band = (F.col("k") * 8 - F.pmod(F.col("k") * 8, F.lit(mk + 1))) / (
        mk + 1
    )
    banded = base.withColumn("band", band.cast("long"))
    hi = 3 * (mk + 1) // 8 - 1
    rng = {"k": (None, hi)}
    t = tempfile.mkdtemp(prefix="dde_scoped_cdc_")
    try:
        v0 = snap.commit(
            spark, banded.where(F.col("band") == 0).drop("band"), t,
            stats_cols=["k"],
        )
        head = v0
        for i in range(1, 8):
            head = snap.commit(
                spark,
                banded.where(F.col("band") == i).drop("band"),
                t,
                mode="append",
                stats_cols=["k"],
            )
        # the same manifest arithmetic the feed pruner runs: how many
        # DELTA dirs can intersect the range (KB of driver-side JSON)
        n_scanned = 0
        prev_dirs = set(
            snap._load_manifest(t, v0, snap._POSIX)["dirs"]
        )
        for v in range(v0 + 1, head + 1):
            m = snap._load_manifest(t, v, snap._POSIX)
            new_dirs = [d for d in m["dirs"] if d not in prev_dirs]
            n_scanned += len(
                snap._prune_dirs(
                    {"dirs": new_dirs, "stats": m.get("stats", {})}, rng
                )
            )
            prev_dirs = set(m["dirs"])

        state0 = (
            snap.read_snapshot(spark, t, v0)
            .where(F.col("k") <= hi)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            snap.read_changes(spark, t, v0, head, ranges=rng)
            .where(F.col("k") <= hi)
            .groupBy("p")
            .agg(
                F.sum(sign).cast("bigint").alias("n_orders"),
                F.sum(sign * F.col("cents")).cast("bigint").alias(
                    "sum_cents"
                ),
            )
        )
        view = merge_grouped_sums(
            [state0, delta], ["p"], ["n_orders", "sum_cents"]
        ).where(F.col("n_orders") != 0)
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in view.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn(
            "n_delta_dirs_scanned", F.lit(n_scanned).cast("bigint")
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x167_schema_evolution_merge",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders),
       fin AS (SELECT p,
                      CASE WHEN k % 7 = 3 THEN cents + 500
                           ELSE cents END AS cents,
                      CASE WHEN k % 7 = 3 THEN k % 5
                           ELSE NULL END AS flag
               FROM base)
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST(COUNT(flag) AS BIGINT) AS n_flagged,
              CAST(SUM(flag) AS BIGINT) AS sum_flag
       FROM fin GROUP BY 1 ORDER BY 1""",
    doc="Schema evolution through MERGE certified end to end — "
    "Delta's mergeSchema writer semantics on this log: the orders "
    "table commits with (k, p, cents); a CDC-style source carrying a "
    "NEW column (flag) upserts the k%7=3 slice (cents bumped +500) "
    "with merge_upsert(evolve_schema=True), which NULL-pads BOTH the "
    "rewritten survivors and the source to the union schema, so the "
    "evolved column is readable immediately. The ENGINE reads the "
    "post-merge head with merge_schema=True (directories carried by "
    "reference still hold the old footer schema) and aggregates per "
    "priority: row count, total cents, flagged-row count and flag "
    "sum. The ORACLE constructs the same final state from raw orders "
    "with CASE arithmetic — a merge that loses survivors, pads "
    "wrongly, double-applies the bump, or drops the evolved column "
    "on any directory breaks the hash (COUNT(flag) counts only "
    "non-NULL, so mis-padding is visible even at equal row counts). "
    "Scale shape: copy-on-write at directory granularity (only "
    "matched dirs rewrite), evolution costs NULL columns in new "
    "files only — no history rewrite, exactly Delta's contract. "
    "Lakehouse-certification tier.",
)
def x167(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    source = base.where(F.col("k") % 7 == 3).select(
        "k",
        "p",
        (F.col("cents") + 500).alias("cents"),
        (F.col("k") % 5).cast("bigint").alias("flag"),
    )
    t = tempfile.mkdtemp(prefix="dde_evolve_merge_")
    try:
        # two dirs so the merge rewrites real subsets, not "the table"
        snap.commit(spark, base.where(F.col("k") % 2 == 0), t)
        snap.commit(
            spark, base.where(F.col("k") % 2 == 1), t, mode="append"
        )
        v = snap.merge_upsert(
            spark, source, t, keys=["k"], evolve_schema=True
        )
        view = (
            snap.read_snapshot(spark, t, v, merge_schema=True)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.count("flag").cast("bigint").alias("n_flagged"),
                F.sum("flag").cast("bigint").alias("sum_flag"),
            )
        )
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"], r["n_flagged"],
             r["sum_flag"])
            for r in view.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows,
        "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT, "
        "n_flagged BIGINT, sum_flag BIGINT",
    ).orderBy("o_orderpriority")


@_q(
    "x168_spearman_rho",
    """WITH t AS (SELECT l_returnflag AS g, l_quantity AS q,
                         CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                           AS c
                  FROM lineitem),
       r AS (SELECT g,
                    2 * RANK() OVER (PARTITION BY g ORDER BY q)
                      + COUNT(*) OVER (PARTITION BY g, q) - 1 AS drq,
                    2 * RANK() OVER (PARTITION BY g ORDER BY c)
                      + COUNT(*) OVER (PARTITION BY g, c) - 1 AS drc
             FROM t),
       mo AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(CAST(drq AS HUGEINT)) AS HUGEINT) AS sx,
                     CAST(SUM(CAST(drc AS HUGEINT)) AS HUGEINT) AS sy,
                     CAST(SUM(CAST(drq AS HUGEINT) * drq) AS HUGEINT)
                       AS sxx,
                     CAST(SUM(CAST(drc AS HUGEINT) * drc) AS HUGEINT)
                       AS syy,
                     CAST(SUM(CAST(drq AS HUGEINT) * drc) AS HUGEINT)
                       AS sxy
              FROM r GROUP BY g)
       SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n_rows,
              ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                    / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                           * CAST(n * syy - sy * sy AS DOUBLE))
                    + 0.0, 6) AS rho
       FROM mo ORDER BY g""",
    doc="Spearman rank correlation (tie-averaged ranks) between "
    "quantity and extended price per return flag — the monotone-"
    "association audit that complements x152's Kendall tau-b "
    "(concordance counting) and x156's Pearson-on-values OLS: "
    "Spearman sees through nonlinear-but-monotone relationships and "
    "is the standard screen for feature/quality-signal redundancy "
    "before mixing corpus scoring features. Math: DOUBLE-ranks "
    "2*avg_rank = 2*(#less) + (#eq) + 1 are exact INTEGERS (tied "
    "blocks average to halves), so Pearson-on-ranks moments stay in "
    "exact decimal(38,0) until one division; with heavy ties "
    "(quantity has ~50 distinct values) the rank-histogram form is "
    "the only correct one — the 6/n(n^2-1) shortcut assumes no ties. "
    "The ENGINE never row-ranks: each variable's double-rank is a "
    "closed form over its per-group VALUE HISTOGRAM prefix sums. "
    "Quantity's histogram is domain-bounded (~50 distinct values), so "
    "its rank map broadcasts onto the fact scan; the near-unique "
    "price is folded — dr_q partial sums riding along — into ONE "
    "(group, price) histogram that a single grouped_cumsum (two-phase "
    "distributed scan, no single-task window) ranks, and the moments "
    "finish from histogram cells without ever joining a rank map "
    "back onto fact rows (regrouped integer sums — bit-identical). "
    "The ORACLE row-ranks literally with RANK()/COUNT() "
    "windows and HUGEINT moments — a different derivation of the "
    "same exact integers. Both sides make ONE double division (and "
    "a sqrt of the same exact product), rounded once.",
)
def x168(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        grouped_cumsum,
    )

    t = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("q"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("c"),
    )
    dec = lambda x: x.cast("decimal(38,0)")
    # QUANTITY's rank map is DOMAIN-BOUNDED (l_quantity holds ~50
    # distinct integer-valued quantities per TPC-H's generator, at any
    # SF), so its double-ranks come from a plain histogram + per-group
    # window over ~50 rows/group and broadcast back — the x40 "bounds
    # attach" posture, no data-sized join. The map-side partial agg
    # collapses the histogram exchange to partitions x ~150 rows.
    hist_q = t.groupBy("g", "q").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wq = Window.partitionBy("g").orderBy("q").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rq = hist_q.withColumn("cum_cnt", F.sum("cnt").over(wq)).select(
        "g",
        "q",
        (
            F.lit(2) * (F.col("cum_cnt") - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        ).alias("dr_q"),
    )
    # PRICE is near-unique, so its rank map is data-sized: ONE
    # distributed prefix scan (grouped_cumsum) over the plain (g, c)
    # VALUE HISTOGRAM — fed the exact slim (group, value, count)
    # shape whose partial/offsets branches provably share one range
    # exchange (a payload-carrying histogram de-duplicates wrong and
    # trips the same-splits guard) — while a SECOND fact aggregation
    # folds the broadcast-attached dr_q into per-(g, c) partial sums
    # (cnt, s1 = sum dr_q, s2 = sum dr_q^2). The rank map then joins
    # the CELL table (histogram-sized, already hash(g, c)-partitioned
    # by its aggregation), never the fact rows — the previous shape
    # ranked both variables through two grouped_cumsum calls and
    # joined both maps back onto the fact table (two extra fact-sized
    # exchanges + a second range sampler). All quantities are exact
    # integers in decimal(38,0), so the regrouped sums are
    # bit-identical: sx = SUM(s1), sxx = SUM(s2), sy = SUM(cnt*dr_c),
    # syy = SUM(dr_c^2*cnt), sxy = SUM(dr_c*s1).
    hist_c = t.groupBy("g", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    cum = grouped_cumsum(hist_c, ["g"], "c", ["cnt"])
    rc = cum.select(
        "g",
        "c",
        (
            F.lit(2) * (F.col("cum_cnt") - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        ).alias("dr_c"),
    )
    jh = (
        t.join(F.broadcast(rq), ["g", "q"])
        .groupBy("g", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(dec(F.col("dr_q"))).alias("s1"),
            F.sum(dec(F.col("dr_q") * F.col("dr_q"))).alias("s2"),
        )
    )
    cell = jh.join(rc, ["g", "c"])
    mo = cell.groupBy("g").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("s1").alias("sx"),
        F.sum(dec(F.col("dr_c")) * F.col("cnt")).alias("sy"),
        F.sum("s2").alias("sxx"),
        F.sum(
            dec(F.col("dr_c") * F.col("dr_c")) * F.col("cnt")
        ).alias("syy"),
        F.sum(F.col("s1") * dec(F.col("dr_c"))).alias("sxy"),
    )
    n = dec(F.col("n"))
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return mo.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").alias("n_rows"),
        F.round(
            num.cast("double")
            / F.sqrt(dx.cast("double") * dy.cast("double"))
            + F.lit(0.0),
            6,
        ).alias("rho"),
    ).orderBy("l_returnflag")


@_q(
    "x169_chi_squared",
    """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
       m AS (SELECT lang, source, n,
                    SUM(n) OVER (PARTITION BY lang) AS nx,
                    SUM(n) OVER (PARTITION BY source) AS ny,
                    SUM(n) OVER () AS nn
             FROM c),
       h AS (SELECT lang, source, n,
                    CAST(nx AS HUGEINT) AS nx,
                    CAST(ny AS HUGEINT) AS ny,
                    CAST(nn AS HUGEINT) AS nn
             FROM m)
       SELECT lang, source, n AS n_cell,
              ROUND(CAST(nx * ny AS DOUBLE) / CAST(nn AS DOUBLE)
                    + 0.0, 6) AS expected,
              ROUND(CAST((n * nn - nx * ny) * (n * nn - nx * ny)
                         AS DOUBLE)
                    / CAST(nn * nx * ny AS DOUBLE) + 0.0, 6)
                AS chi2_term
       FROM h ORDER BY lang, source""",
    doc="Pearson chi-squared independence terms for the "
    "(lang, source) contingency table — the classic complement to "
    "x157's G-test on the same margins (chi2 is the second-order "
    "Taylor expansion of G; reporting both is the standard "
    "independence-audit pair, and cells where they diverge flag "
    "low-expected-count cells whose asymptotics are unreliable). "
    "Per-cell output (term + expected count), no float total — "
    "summing rounded doubles across partitions would hash-drift; a "
    "consumer sums the 6-decimal terms for the statistic. Math "
    "discipline: chi2_term = (n*N - nx*ny)^2 / (N*nx*ny) keeps the "
    "numerator an EXACT decimal(38,0) integer ((n*N)^2 reaches ~1e27 "
    "at sf1 — past int64, the x156 decimal-moments rule) and makes "
    "ONE double division, rounded once; expected = nx*ny/N likewise. "
    "ENGINE: one CUBE pass over (lang, source) — grouping_id splits "
    "cells and both marginals out of a single shuffled aggregate "
    "(the x133/x157 one-Expand discipline), marginals broadcast back "
    "onto cells, the grand total re-aggregated GLOBALLY from the "
    "cells (exchange reuse; 1-row attach plan-provable for the BNLJ "
    "gate). ORACLE: window sums over the cell table with HUGEINT "
    "arithmetic — a different margin derivation. NULL keys filtered "
    "on both sides (x133 discipline). Every post-shuffle relation "
    "is vocabulary-sized (|langs| x |sources|) at any corpus scale.",
)
def x169(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cube = docs.cube("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.grouping_id().alias("gid"),
    )
    cells = cube.where(F.col("gid") == 0).select("lang", "source", "n")
    lang_m = cube.where(F.col("gid") == 1).select(
        "lang", F.col("n").alias("nx")
    )
    src_m = cube.where(F.col("gid") == 2).select(
        "source", F.col("n").alias("ny")
    )
    total = cells.agg(F.sum("n").cast("long").alias("nn"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    diff = dec("n") * dec("nn") - dec("nx") * dec("ny")
    return (
        cells.join(F.broadcast(lang_m), "lang")
        .join(F.broadcast(src_m), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "lang",
            "source",
            F.col("n").alias("n_cell"),
            F.round(
                (dec("nx") * dec("ny")).cast("double")
                / F.col("nn").cast("double")
                + F.lit(0.0),
                6,
            ).alias("expected"),
            F.round(
                (diff * diff).cast("double")
                / (dec("nn") * dec("nx") * dec("ny")).cast("double")
                + F.lit(0.0),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("lang", "source")
    )


@_q(
    "x170_effective_sample_size",
    """WITH w AS (SELECT lang, CAST(n_chars AS HUGEINT) AS w
                  FROM documents WHERE lang IS NOT NULL),
       mo AS (SELECT lang, CAST(COUNT(*) AS HUGEINT) AS n,
                     CAST(SUM(w) AS HUGEINT) AS sw,
                     CAST(SUM(w * w) AS HUGEINT) AS sww
              FROM w GROUP BY 1)
       SELECT lang, CAST(n AS BIGINT) AS n_docs,
              CAST(sw AS BIGINT) AS sum_w,
              ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww AS DOUBLE)
                    + 0.0, 6) AS ess,
              ROUND(CAST(sw * sw AS DOUBLE) / CAST(sww * n AS DOUBLE)
                    + 0.0, 6) AS efficiency
       FROM mo ORDER BY lang""",
    doc="Kish effective sample size per language stratum under "
    "char-count importance weights — ESS = (SUM w)^2 / SUM w^2, the "
    "design-effect diagnostic for every weighted operation in the "
    "registry (x61/x104 weighted sampling, x52 mixture planning): a "
    "stratum whose ESS/n efficiency collapses is dominated by a few "
    "huge documents and its weighted statistics are noisier than the "
    "row count suggests — resample or cap weights before trusting "
    "it. Math: both outputs are ratios of EXACT integers ((SUM w)^2 "
    "reaches ~1e21 at sf1 — past int64, so decimal(38,0)/HUGEINT "
    "moments per the x156 rule), each made with ONE double division "
    "rounded once; efficiency divides by the exact product sww*n, "
    "never by a rounded intermediate. ENGINE: a single groupBy "
    "aggregation (map-side partial combine; no joins, no windows). "
    "ORACLE: the same moments via HUGEINT. NULL langs filtered both "
    "sides. Per-stratum state is 3 scalars — at 100 TB this is one "
    "scan and a |langs|-row shuffle.",
)
def x170(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull()
    )
    dec = lambda x: x.cast("decimal(38,0)")
    mo = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec(F.col("n_chars"))).alias("sw"),
        F.sum(dec(F.col("n_chars") * F.col("n_chars"))).alias("sww"),
    )
    return mo.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.col("sw").cast("bigint").alias("sum_w"),
        F.round(
            (F.col("sw") * F.col("sw")).cast("double")
            / F.col("sww").cast("double")
            + F.lit(0.0),
            6,
        ).alias("ess"),
        F.round(
            (F.col("sw") * F.col("sw")).cast("double")
            / (F.col("sww") * dec(F.col("n"))).cast("double")
            + F.lit(0.0),
            6,
        ).alias("efficiency"),
    ).orderBy("lang")


@_q(
    "x171_simpson_diversity",
    """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
       s AS (SELECT source,
                    CAST(COUNT(*) AS BIGINT) AS richness,
                    CAST(SUM(n) AS BIGINT) AS nn,
                    CAST(SUM(n * (n - 1)) AS HUGEINT) AS pairs_same
             FROM c GROUP BY 1)
       SELECT source, richness, nn AS n_docs,
              ROUND(1.0 - CAST(pairs_same AS DOUBLE)
                          / CAST(CAST(nn AS HUGEINT) * (nn - 1)
                                 AS DOUBLE) + 0.0, 6)
                AS simpson_d
       FROM s WHERE nn > 1 ORDER BY source""",
    doc="Simpson diversity index of the language mix per source — "
    "1 - SUM n_i*(n_i-1) / (N*(N-1)): the probability two documents "
    "drawn without replacement from a source differ in language. "
    "The corpus-governance reading: a 'multilingual' source whose "
    "Simpson index is near 0 is effectively monolingual (x52's "
    "mixture temperatures and x109's divergence monitors assume the "
    "per-source mix is real); richness (distinct languages) is "
    "reported beside it because the two diverge exactly when the "
    "tail languages are token-thin. Math: the unbiased finite-"
    "population form stays in EXACT integers — pairs_same = "
    "SUM n_i*(n_i-1) (~1e13 at sf1; HUGEINT/decimal headroom per "
    "the x156 rule) over the (source, lang) cells, N*(N-1) exact — "
    "with ONE double division rounded once; sources with N<2 are "
    "excluded on both sides (the index is undefined). ENGINE: two "
    "cascaded aggregations (cells, then per-source moments — both "
    "map-side combinable, vocabulary-sized after the first "
    "shuffle). ORACLE: identical cascade in HUGEINT. At 100 TB: "
    "one scan, one |langs x sources| shuffle, one |sources| row "
    "result.",
)
def x171(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    dec = lambda x: x.cast("decimal(38,0)")
    s = cells.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("richness"),
        F.sum("n").cast("long").alias("nn"),
        F.sum(dec(F.col("n") * (F.col("n") - 1))).alias("pairs_same"),
    )
    return (
        s.where(F.col("nn") > 1)
        .select(
            "source",
            "richness",
            F.col("nn").alias("n_docs"),
            F.round(
                F.lit(1.0)
                - F.col("pairs_same").cast("double")
                / (dec(F.col("nn")) * dec(F.col("nn") - 1)).cast(
                    "double"
                )
                + F.lit(0.0),
                6,
            ).alias("simpson_d"),
        )
        .orderBy("source")
    )


def _ndcg_exprs_sql() -> tuple[str, str]:
    """The shared fixed-k expression trees for x172: dcg over the rank
    pivot and idcg over the relevant count, spelled ONCE and rendered
    into both dialects with identical left-to-right association so the
    engines build the same IEEE expression tree (d_i = ln2/ln(i+1);
    ~1ulp libm-vs-JVM noise, six orders below the rounding grain)."""
    d = {i: f"(ln(2.0) / ln({i + 1}.0))" for i in range(2, 6)}
    dcg = (
        f"(CAST(r1 AS DOUBLE) + r2 * {d[2]} + r3 * {d[3]}"
        f" + r4 * {d[4]} + r5 * {d[5]})"
    )
    prefix = "1.0"
    arms = ["WHEN 1 THEN 1.0"]
    for i in range(2, 6):
        prefix = f"{prefix} + {d[i]}"
        arms.append(f"WHEN {i} THEN {prefix}")
    idcg = f"(CASE n_relevant {' '.join(arms)} END)"
    return dcg, idcg


_X172_DCG, _X172_IDCG = _ndcg_exprs_sql()


@_q(
    "x172_ranking_eval",
    f"""WITH q AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
                   FROM embeddings WHERE vec_id < 10),
       c AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
             FROM embeddings),
       scored AS (
         SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                CASE WHEN c.label = q.label THEN 1 ELSE 0 END AS rel,
                list_dot_product(q.v, c.v)
                  / (sqrt(list_dot_product(q.v, q.v))
                     * sqrt(list_dot_product(c.v, c.v))) AS s
         FROM q JOIN c ON q.vec_id != c.vec_id
       ),
       ranked AS (
         SELECT query_id, rel,
                ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY s DESC, neighbor_id) AS rank
         FROM scored
       ),
       piv AS (
         SELECT query_id,
                MAX(CASE WHEN rank = 1 THEN rel ELSE 0 END) AS r1,
                MAX(CASE WHEN rank = 2 THEN rel ELSE 0 END) AS r2,
                MAX(CASE WHEN rank = 3 THEN rel ELSE 0 END) AS r3,
                MAX(CASE WHEN rank = 4 THEN rel ELSE 0 END) AS r4,
                MAX(CASE WHEN rank = 5 THEN rel ELSE 0 END) AS r5,
                CAST(SUM(rel) AS BIGINT) AS n_relevant,
                MIN(CASE WHEN rel = 1 THEN rank END) AS frank
         FROM ranked WHERE rank <= 5 GROUP BY query_id
       )
       SELECT query_id, n_relevant,
              ROUND(CAST(n_relevant AS DOUBLE) / 5.0 + 0.0, 6)
                AS precision_at_5,
              CASE WHEN frank IS NULL THEN 0.0
                   ELSE ROUND(1.0 / CAST(frank AS DOUBLE) + 0.0, 6)
              END AS reciprocal_rank,
              CASE WHEN n_relevant = 0 THEN 0.0
                   ELSE ROUND({_X172_DCG} / {_X172_IDCG} + 0.0, 6)
              END AS ndcg_at_5
       FROM piv ORDER BY query_id""",
    doc="Retrieval-quality evaluation of the exact cosine top-5 "
    "(x09's certified ranking) against label relevance — "
    "precision@5, reciprocal rank, and binary nDCG@5 per query: the "
    "eval layer every embedding-dedup/ANN operator in the registry "
    "feeds (x50 measures RECALL of an approximate index against the "
    "exact ranking; this measures whether the exact ranking is any "
    "GOOD against ground-truth labels — the two axes of retrieval "
    "eval). Math discipline: precision and reciprocal rank are "
    "single divisions of exact integers; nDCG is the one genuinely "
    "float-shaped metric, so BOTH engines build the IDENTICAL fixed-"
    "k expression tree (the k=5 pivot makes the discount sum an "
    "expression, not an unordered float aggregation — no "
    "reassociation drift) from the same module-level rendering, "
    "with idcg a CASE over the relevant count. ENGINE: "
    "similarity.cosine_topk (broadcast 10 queries, partial top-k "
    "per partition) + one label join + a 10-group pivot aggregate. "
    "ORACLE: the full scored self-join re-ranked with ROW_NUMBER. "
    "Rank order is hash-certified upstream by x09 (score DESC, id "
    "tiebreak); at 100 TB the corpus-side scan dominates and "
    "nothing after the top-k is more than queries x k rows.",
    bnlj_bounded=1,
)
def x172(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    topk = sim.cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)
    rel = (
        topk.join(
            F.broadcast(
                labels.where(F.col("vec_id") < 10).select(
                    F.col("vec_id").alias("query_id"),
                    F.col("label").alias("ql"),
                )
            ),
            "query_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nl"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "rank",
            F.when(F.col("nl") == F.col("ql"), 1).otherwise(0).alias("rel"),
        )
    )
    piv = rel.groupBy("query_id").agg(
        *[
            F.max(
                F.when(F.col("rank") == i, F.col("rel")).otherwise(0)
            ).alias(f"r{i}")
            for i in range(1, 6)
        ],
        F.sum("rel").cast("long").alias("n_relevant"),
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("frank"),
    )
    return piv.select(
        "query_id",
        "n_relevant",
        F.round(
            F.col("n_relevant").cast("double") / F.lit(5.0) + F.lit(0.0), 6
        ).alias("precision_at_5"),
        F.when(F.col("frank").isNull(), F.lit(0.0))
        .otherwise(
            F.round(
                F.lit(1.0) / F.col("frank").cast("double") + F.lit(0.0), 6
            )
        )
        .alias("reciprocal_rank"),
        F.when(F.col("n_relevant") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.expr(_X172_DCG) / F.expr(_X172_IDCG) + F.lit(0.0), 6
            )
        )
        .alias("ndcg_at_5"),
    ).orderBy("query_id")


def _langid_prf_oracle() -> str:
    """Per-class precision/recall/F1 oracle sharing x03's generated
    marker-score SQL (the two dialects cannot drift on the predictor)
    but deriving the metrics from scalar subqueries over the confusion
    cells — a different margin derivation than the engine's join
    cascade."""
    import re

    base = _lang_oracle()
    cells_body = re.sub(r"ORDER BY.*$", "", base, flags=re.S)
    return f"""
        WITH cellsrc AS ({cells_body}),
        cells AS (SELECT lang AS t, predicted AS pr,
                         CAST(n AS BIGINT) AS n
                  FROM cellsrc),
        classes AS (SELECT DISTINCT t AS cls FROM cells
                    UNION SELECT DISTINCT pr FROM cells),
        m AS (SELECT c.cls,
                     COALESCE((SELECT SUM(n) FROM cells
                               WHERE t = c.cls AND pr = c.cls), 0) AS tp,
                     COALESCE((SELECT SUM(n) FROM cells
                               WHERE pr = c.cls), 0) AS n_pred,
                     COALESCE((SELECT SUM(n) FROM cells
                               WHERE t = c.cls), 0) AS n_true
              FROM classes c)
        SELECT cls AS lang, CAST(tp AS BIGINT) AS tp,
               CAST(n_pred AS BIGINT) AS n_pred,
               CAST(n_true AS BIGINT) AS n_true,
               CASE WHEN n_pred > 0
                    THEN ROUND(CAST(tp AS DOUBLE)
                               / CAST(n_pred AS DOUBLE) + 0.0, 6)
               END AS prec,
               CASE WHEN n_true > 0
                    THEN ROUND(CAST(tp AS DOUBLE)
                               / CAST(n_true AS DOUBLE) + 0.0, 6)
               END AS rec,
               CASE WHEN n_pred + n_true > 0
                    THEN ROUND(2.0 * CAST(tp AS DOUBLE)
                               / CAST(n_pred + n_true AS DOUBLE)
                               + 0.0, 6)
               END AS f1
        FROM m ORDER BY lang"""


@_q(
    "x173_classifier_eval",
    _langid_prf_oracle(),
    doc="Per-class precision / recall / F1 of the x03 marker-score "
    "language-id heuristic against the gold lang column — the "
    "classification-eval layer above x03's raw confusion matrix, "
    "and the template for evaluating ANY derived labeler in the "
    "registry (quality gates, dedup keep-decisions) against ground "
    "truth. Classes are the UNION of observed true and predicted "
    "labels, so 'unknown' (predicted only) gets a row with n_true=0 "
    "and NULL recall, and a never-predicted language keeps NULL "
    "precision — zero denominators surface as NULL, never as a "
    "division blow-up or a silently dropped class. Math: tp / "
    "pred-total / true-total are exact integers from ONE confusion-"
    "cell aggregation; precision, recall and F1 = 2tp/(n_pred + "
    "n_true) are each one rounded division (the harmonic-mean form "
    "with the exact integer denominator — never F1 from already-"
    "rounded P and R). ENGINE: cells once, margins as two tiny "
    "re-aggregations full-outer-merged on the class vocabulary "
    "(|langs|+1 rows — every post-cell relation is catalog-sized "
    "at any corpus scale). ORACLE: scalar subqueries over the same "
    "generated marker-score SQL x03 certifies — a different margin "
    "derivation on a shared predictor.",
)
def x173(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("t"),
            tx.predict_lang(F.col("text")).alias("pr"),
        )
        .groupBy("t", "pr")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tp = (
        cells.where(F.col("t") == F.col("pr"))
        .select(F.col("t").alias("cls"), F.col("n").alias("tp"))
    )
    pred_m = cells.groupBy(F.col("pr").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    true_m = cells.groupBy(F.col("t").alias("cls")).agg(
        F.sum("n").cast("long").alias("n_true")
    )
    m = (
        pred_m.join(true_m, "cls", "full")
        .join(tp, "cls", "left")
        .select(
            "cls",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("n_pred", F.lit(0)).cast("long").alias("n_pred"),
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
        )
    )
    return m.select(
        F.col("cls").alias("lang"),
        "tp",
        "n_pred",
        "n_true",
        F.when(
            F.col("n_pred") > 0,
            F.round(
                F.col("tp").cast("double") / F.col("n_pred").cast("double")
                + F.lit(0.0),
                6,
            ),
        ).alias("prec"),
        F.when(
            F.col("n_true") > 0,
            F.round(
                F.col("tp").cast("double") / F.col("n_true").cast("double")
                + F.lit(0.0),
                6,
            ),
        ).alias("rec"),
        F.when(
            (F.col("n_pred") + F.col("n_true")) > 0,
            F.round(
                F.lit(2.0)
                * F.col("tp").cast("double")
                / (F.col("n_pred") + F.col("n_true")).cast("double")
                + F.lit(0.0),
                6,
            ),
        ).alias("f1"),
    ).orderBy("lang")


@_q(
    "x174_shannon_entropy",
    """WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
       s AS (SELECT source, CAST(SUM(n) AS BIGINT) AS nn,
                    CAST(COUNT(*) AS BIGINT) AS k
             FROM c GROUP BY 1),
       t AS (SELECT c.source, s.nn, s.k,
                    CAST(ROUND(1000000000.0
                               * (CAST(c.n AS DOUBLE)
                                  / CAST(s.nn AS DOUBLE))
                               * LN(CAST(s.nn AS DOUBLE)
                                    / CAST(c.n AS DOUBLE)), 0)
                         AS BIGINT) AS u
             FROM c JOIN s USING (source)),
       a AS (SELECT source, nn, k, CAST(SUM(u) AS BIGINT) AS su
             FROM t GROUP BY 1, 2, 3)
       SELECT source, k AS richness, nn AS n_docs,
              ROUND(CAST(su AS DOUBLE) / 1000000000.0 + 0.0, 6)
                AS shannon_nats,
              CASE WHEN k > 1
                   THEN ROUND(CAST(su AS DOUBLE)
                              / (1000000000.0
                                 * LN(CAST(k AS DOUBLE))) + 0.0, 6)
              END AS evenness
       FROM a ORDER BY source""",
    doc="Shannon entropy (nats) and Pielou evenness of the language "
    "mix per source — the information-theoretic companion to x171's "
    "Simpson index on the same cells: Simpson weights dominant "
    "languages (pairwise collision), Shannon weights the tail, and "
    "evenness H/ln(richness) normalizes to [0,1] so sources of "
    "different richness compare (the mixture-governance dashboard "
    "wants all three). Float-sum discipline (the x109/x131 rule): "
    "entropy is a SUM of float terms, and unordered double addition "
    "reassociates across partition layouts — so each term p·ln(1/p) "
    "is computed from the EXACT integer ratio (one double division, "
    "ln of that exact rational), rounded ONCE to 1e-9-nat integer "
    "units, and summed as BIGINT (order-free, layout-invariant by "
    "construction); the two output divisions happen on the exact "
    "unit sum. ENGINE: the x171 cell cascade + one broadcast margin "
    "join. ORACLE: same construction derived through a JOIN-USING "
    "margin (vs the engine's aggregate-then-broadcast), HUGEINT-free "
    "since units stay under 1e10. NULL keys filtered both sides. "
    "Vocabulary-sized relations after one shuffle at any scale.",
)
def x174(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cells = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = cells.groupBy("source").agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    u = (
        cells.join(F.broadcast(s), "source")
        .select(
            "source",
            "nn",
            "k",
            F.round(
                F.lit(1000000000.0)
                * (F.col("n").cast("double") / F.col("nn").cast("double"))
                * F.log(
                    F.col("nn").cast("double") / F.col("n").cast("double")
                ),
                0,
            )
            .cast("long")
            .alias("u"),
        )
    )
    a = u.groupBy("source", "nn", "k").agg(
        F.sum("u").cast("long").alias("su")
    )
    return a.select(
        "source",
        F.col("k").alias("richness"),
        F.col("nn").alias("n_docs"),
        F.round(
            F.col("su").cast("double") / F.lit(1000000000.0) + F.lit(0.0),
            6,
        ).alias("shannon_nats"),
        F.when(
            F.col("k") > 1,
            F.round(
                F.col("su").cast("double")
                / (F.lit(1000000000.0) * F.log(F.col("k").cast("double")))
                + F.lit(0.0),
                6,
            ),
        ).alias("evenness"),
    ).orderBy("source")


@_q(
    "x175_js_divergence",
    """WITH e AS (SELECT event_type,
                         CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END
                           AS ia
                  FROM events WHERE event_type IS NOT NULL),
       c AS (SELECT event_type, CAST(SUM(ia) AS BIGINT) AS an,
                    CAST(SUM(1 - ia) AS BIGINT) AS bn
             FROM e GROUP BY 1),
       t AS (SELECT CAST(SUM(an) AS BIGINT) AS ta,
                    CAST(SUM(bn) AS BIGINT) AS tb
             FROM c),
       u AS (SELECT c.event_type, c.an, c.bn,
                    CASE WHEN c.an > 0 THEN
                      CAST(ROUND(1000000000.0
                        * (CAST(c.an AS DOUBLE) / CAST(t.ta AS DOUBLE))
                        * LN(CAST(2 * c.an * t.tb AS DOUBLE)
                             / CAST(c.an * t.tb + c.bn * t.ta
                                    AS DOUBLE)), 0) AS BIGINT)
                    ELSE 0 END AS up,
                    CASE WHEN c.bn > 0 THEN
                      CAST(ROUND(1000000000.0
                        * (CAST(c.bn AS DOUBLE) / CAST(t.tb AS DOUBLE))
                        * LN(CAST(2 * c.bn * t.ta AS DOUBLE)
                             / CAST(c.bn * t.ta + c.an * t.tb
                                    AS DOUBLE)), 0) AS BIGINT)
                    ELSE 0 END AS uq
             FROM c, t),
       g AS (SELECT CAST(SUM(up + uq) AS BIGINT) AS tot FROM u)
       SELECT u.event_type, u.an AS n_even, u.bn AS n_odd,
              ROUND(CAST(u.up + u.uq AS DOUBLE) / 2000000000.0
                    + 0.0, 6) AS contrib_nats,
              ROUND(CAST(g.tot AS DOUBLE) / 2000000000.0 + 0.0, 6)
                AS jsd_nats
       FROM u, g ORDER BY u.event_type""",
    doc="Jensen-Shannon divergence between the event-type "
    "distributions of the two deterministic stream halves (even vs "
    "odd event_id — a split whose expected JSD is ~0, making this "
    "the calibrated NULL baseline for the drift-monitor family: "
    "x141's PSI needs binning choices, x109's KL is asymmetric and "
    "unbounded, JSD is symmetric, finite, and bounded by ln 2). "
    "Per-type contributions AND the corpus total: both safe under "
    "the x109/x131 float-sum discipline — each side's term "
    "p·ln(2p/(p+q)) takes ln of an EXACT integer ratio "
    "(2·a·B/(a·B+b·A): cross-multiplied counts, no float "
    "intermediates inside), is rounded ONCE to 1e-9-nat units, and "
    "totals as an exact BIGINT sum (order-free, layout-invariant); "
    "a type absent from one side contributes only the other side's "
    "term (M > 0 wherever P > 0, so JSD needs no smoothing — the "
    "reason it beats KL for vocabulary drift). ENGINE: one "
    "conditional-sum pass over event_type + a 1-row totals "
    "broadcast (plan-provable BNLJ) + the same 1-row grand-total "
    "attach. ORACLE: identical unit construction through comma-join "
    "scalar CTEs. Vocabulary-sized after one shuffle at any scale.",
)
def x175(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    cells = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("event_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("an"),
        F.sum(F.when(F.col("event_id") % 2 == 0, 0).otherwise(1))
        .cast("long")
        .alias("bn"),
    )
    tot = cells.agg(
        F.sum("an").cast("long").alias("ta"),
        F.sum("bn").cast("long").alias("tb"),
    )

    def _unit(num_cnt, num_tot, other_cnt, other_tot):
        # p * ln(2p / (p + q)) in 1e-9-nat units, the ln argument an
        # exact cross-multiplied integer ratio
        num = (F.lit(2) * num_cnt * other_tot).cast("double")
        den = (num_cnt * other_tot + other_cnt * num_tot).cast("double")
        return (
            F.round(
                F.lit(1000000000.0)
                * (num_cnt.cast("double") / num_tot.cast("double"))
                * F.log(num / den),
                0,
            ).cast("long")
        )

    u = cells.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "an",
        "bn",
        F.when(
            F.col("an") > 0,
            _unit(F.col("an"), F.col("ta"), F.col("bn"), F.col("tb")),
        )
        .otherwise(F.lit(0))
        .alias("up"),
        F.when(
            F.col("bn") > 0,
            _unit(F.col("bn"), F.col("tb"), F.col("an"), F.col("ta")),
        )
        .otherwise(F.lit(0))
        .alias("uq"),
    )
    g = u.agg(F.sum(F.col("up") + F.col("uq")).cast("long").alias("tot"))
    return (
        u.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            F.col("an").alias("n_even"),
            F.col("bn").alias("n_odd"),
            F.round(
                (F.col("up") + F.col("uq")).cast("double")
                / F.lit(2000000000.0)
                + F.lit(0.0),
                6,
            ).alias("contrib_nats"),
            F.round(
                F.col("tot").cast("double") / F.lit(2000000000.0)
                + F.lit(0.0),
                6,
            ).alias("jsd_nats"),
        )
        .orderBy("event_type")
    )


@_q(
    "x176_association_summary",
    """WITH c AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
                  FROM documents
                  WHERE lang IS NOT NULL AND source IS NOT NULL
                  GROUP BY 1, 2),
       m AS (SELECT lang, source, n,
                    CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT)
                      AS nx,
                    CAST(SUM(n) OVER (PARTITION BY source) AS BIGINT)
                      AS ny,
                    CAST(SUM(n) OVER () AS BIGINT) AS nn
             FROM c),
       dims AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS r,
                       CAST(COUNT(DISTINCT source) AS BIGINT) AS cc
                FROM c),
       u AS (SELECT nn,
                    CAST(ROUND(1000000000.0
                      * CAST((n * CAST(nn AS HUGEINT) - nx * CAST(ny AS HUGEINT))
                             * (n * CAST(nn AS HUGEINT) - nx * CAST(ny AS HUGEINT))
                             AS DOUBLE)
                      / CAST(CAST(nn AS HUGEINT) * nx * ny AS DOUBLE),
                      0) AS BIGINT) AS chi2_u,
                    CAST(ROUND(1000000000.0
                      * (CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))
                      * LN(CAST(n * CAST(nn AS HUGEINT) AS DOUBLE)
                           / CAST(nx * CAST(ny AS HUGEINT) AS DOUBLE)),
                      0) AS BIGINT) AS mi_u,
                    CAST(ROUND(1000000000.0 * 2.0 * n
                      * LN(CAST(n * CAST(nn AS HUGEINT) AS DOUBLE)
                           / CAST(nx * CAST(ny AS HUGEINT) AS DOUBLE)),
                      0) AS BIGINT) AS g_u
             FROM m),
       a AS (SELECT MAX(nn) AS nn,
                    CAST(SUM(chi2_u) AS BIGINT) AS schi,
                    CAST(SUM(mi_u) AS BIGINT) AS smi,
                    CAST(SUM(g_u) AS BIGINT) AS sg
             FROM u)
       SELECT a.nn AS n_docs, dims.r AS n_langs, dims.cc AS n_sources,
              ROUND(CAST(schi AS DOUBLE) / 1000000000.0 + 0.0, 6)
                AS chi2,
              ROUND(CAST(smi AS DOUBLE) / 1000000000.0 + 0.0, 6)
                AS mi_nats,
              ROUND(CAST(sg AS DOUBLE) / 1000000000.0 + 0.0, 6)
                AS g_stat,
              ROUND(SQRT((CAST(schi AS DOUBLE) / 1000000000.0)
                         / CAST(a.nn * (CASE WHEN dims.r < dims.cc
                                             THEN dims.r ELSE dims.cc
                                        END - 1) AS DOUBLE)) + 0.0, 6)
                AS cramers_v
       FROM a, dims""",
    doc="One-row association summary of the (lang, source) "
    "contingency: total chi-squared, total mutual information "
    "(nats), the G statistic, and Cramer's V — the normalized-"
    "association rollup of x157/x169's per-cell tables (per-cell "
    "terms diagnose WHICH cells drive dependence; V in [0,1] says "
    "HOW MUCH, comparable across tables of different shape). The "
    "float-TOTALS problem is solved by the x109/x131 unit "
    "discipline: each cell's chi2 / MI / G term is computed from "
    "EXACT integer cross-products ((n*N - nx*ny)^2 needs HUGEINT/"
    "decimal — ~1e27 at sf1 — and every ln argument is one division "
    "of exact products), rounded ONCE to 1e-9 units, summed as "
    "BIGINT (order-free, layout-invariant); V then takes one sqrt "
    "of the exact unit sum over the exact N*(min(r,c)-1). ENGINE: "
    "the x157/x169 one-CUBE grouping_id split with broadcast "
    "margins; the dims row and grand total are 1-row plan-provable "
    "attaches. ORACLE: window-sum margins + HUGEINT arithmetic. "
    "NULL keys filtered both sides. Everything after the cell "
    "shuffle is vocabulary-sized.",
)
def x176(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("lang").isNotNull() & F.col("source").isNotNull()
    )
    cube = docs.cube("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.grouping_id().alias("gid"),
    )
    cells = cube.where(F.col("gid") == 0).select("lang", "source", "n")
    lang_m = cube.where(F.col("gid") == 1).select(
        "lang", F.col("n").alias("nx")
    )
    src_m = cube.where(F.col("gid") == 2).select(
        "source", F.col("n").alias("ny")
    )
    total = cells.agg(F.sum("n").cast("long").alias("nn"))
    dims = cells.agg(
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("cc"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    diff = dec("n") * dec("nn") - dec("nx") * dec("ny")
    ln_arg = (dec("n") * dec("nn")).cast("double") / (
        dec("nx") * dec("ny")
    ).cast("double")
    unit = F.lit(1000000000.0)
    u = (
        cells.join(F.broadcast(lang_m), "lang")
        .join(F.broadcast(src_m), "source")
        .crossJoin(F.broadcast(total))
        .select(
            "nn",
            F.round(
                unit
                * (diff * diff).cast("double")
                / (dec("nn") * dec("nx") * dec("ny")).cast("double"),
                0,
            )
            .cast("long")
            .alias("chi2_u"),
            F.round(
                unit
                * (F.col("n").cast("double") / F.col("nn").cast("double"))
                * F.log(ln_arg),
                0,
            )
            .cast("long")
            .alias("mi_u"),
            F.round(
                unit * F.lit(2.0) * F.col("n") * F.log(ln_arg), 0
            )
            .cast("long")
            .alias("g_u"),
        )
    )
    a = u.agg(
        F.max("nn").alias("nn"),
        F.sum("chi2_u").cast("long").alias("schi"),
        F.sum("mi_u").cast("long").alias("smi"),
        F.sum("g_u").cast("long").alias("sg"),
    )
    denom_unit = F.lit(1000000000.0)
    return a.crossJoin(F.broadcast(dims)).select(
        F.col("nn").alias("n_docs"),
        F.col("r").alias("n_langs"),
        F.col("cc").alias("n_sources"),
        F.round(
            F.col("schi").cast("double") / denom_unit + F.lit(0.0), 6
        ).alias("chi2"),
        F.round(
            F.col("smi").cast("double") / denom_unit + F.lit(0.0), 6
        ).alias("mi_nats"),
        F.round(
            F.col("sg").cast("double") / denom_unit + F.lit(0.0), 6
        ).alias("g_stat"),
        F.round(
            F.sqrt(
                (F.col("schi").cast("double") / denom_unit)
                / (
                    F.col("nn")
                    * (F.least("r", "cc") - F.lit(1))
                ).cast("double")
            )
            + F.lit(0.0),
            6,
        ).alias("cramers_v"),
    )


@_q(
    "x177_restore_feed_view",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents
       FROM orders GROUP BY 1 ORDER BY 1""",
    doc="Incremental view maintenance ACROSS A RESTORE — the x145/"
    "x151/x162 feed certifications extended to snapshots."
    "restore_table, completing the CRUD-feed surface for the time-"
    "machine verb: orders land in two appended directories, a DELETE "
    "removes the k%13=4 slice, then the table is RESTORED to the "
    "pre-delete version (a forward-moving commit referencing the old "
    "directories — zero data movement). A per-priority (count, sum) "
    "view materialized at the POST-DELETE version is advanced purely "
    "from read_changes' signed fold across the restore (truncate-and-"
    "reload delta: pre-restore rows out, restored rows in) and must "
    "land exactly on the restored content — which IS the raw orders "
    "table, so the ORACLE is the plain unconditional aggregate: any "
    "row the restore loses, resurrects twice, or double-ships breaks "
    "the hash. The deleted-then-restored rows must net +1 through "
    "the delete's change set (-1) stacked under the restore's "
    "reload. Scale shape: the restore commit costs one manifest "
    "write; the feed reads the restored dirs once plus the delete's "
    "row-exact change set. Lakehouse-certification tier (x127/x132/"
    "x145/x151/x162/x164-x167 pattern).",
)
def x177(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.functions.stats import (
        merge_grouped_sums,
    )
    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    t = tempfile.mkdtemp(prefix="dde_restore_view_")
    try:
        snap.commit(spark, base.where(F.col("k") % 2 == 0), t)
        v_full = snap.commit(
            spark, base.where(F.col("k") % 2 == 1), t, mode="append"
        )
        v_del = snap.delete_where(spark, t, "k % 13 = 4")
        head = snap.restore_table(spark, t, v_full)

        state_del = (
            snap.read_snapshot(spark, t, v_del)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        delta = (
            snap.read_changes(spark, t, v_del, head)
            .groupBy("p")
            .agg(
                F.sum(sign).cast("bigint").alias("n_orders"),
                F.sum(sign * F.col("cents")).cast("bigint").alias(
                    "sum_cents"
                ),
            )
        )
        view = merge_grouped_sums(
            [state_del, delta], ["p"], ["n_orders", "sum_cents"]
        ).where(F.col("n_orders") != 0)
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in view.collect()
        ]
    finally:
        shutil.rmtree(t, ignore_errors=True)
    return local_frame(
        spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
    ).orderBy("o_orderpriority")


_X178_COLS = [
    ("discount", "CAST(ROUND(l_discount * 100, 0) AS BIGINT)"),
    ("extendedprice", "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"),
    ("quantity", "CAST(ROUND(l_quantity, 0) AS BIGINT)"),
    ("tax", "CAST(ROUND(l_tax * 100, 0) AS BIGINT)"),
]


def _x178_oracle() -> str:
    names = [n for n, _ in _X178_COLS]
    scaled = ", ".join(f"{expr} AS {n}" for n, expr in _X178_COLS)
    legs = []
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            legs.append(
                f"SELECT '{a}' AS col_x, '{b}' AS col_y, "
                f"CAST(COUNT(*) AS BIGINT) AS n_rows, "
                f"ROUND(corr({a}, {b}) + 0.0, 6) AS pearson_r FROM t"
            )
    return (
        f"WITH t AS (SELECT {scaled} FROM lineitem) "
        "SELECT * FROM (" + " UNION ALL ".join(legs) + ") "
        "ORDER BY col_x, col_y"
    )


@_q(
    "x178_corr_matrix",
    _x178_oracle(),
    doc="Pairwise Pearson correlation matrix over lineitem's four "
    "numeric measures — the feature-redundancy screen that sits "
    "beside x156's per-group OLS (one pair, with fit) and x168's "
    "Spearman (monotone association): a profiling dashboard wants "
    "the full linear matrix in one pass. Columns are scaled to "
    "EXACT integers first (cents / percent units — correlation is "
    "scale-invariant, so the scaling only buys exactness), then ONE "
    "moments aggregation computes every Σx, Σx² and all six Σxy in "
    "exact decimal(38,0) (price²-sums pass int64 well below sf0.1), "
    "and each pair's r = (n·Sxy − Sx·Sy) / (sqrt(n·Sxx − Sx²) · "
    "sqrt(n·Syy − Sy²)) is one double division over exact-decimal "
    "operands. The ORACLE is DuckDB's own corr() streaming "
    "aggregate — a fully independent third-party implementation "
    "(the x156 regr_* certification pattern). ENGINE shape: one "
    "map-side-combinable aggregation; the 6-row matrix is exploded "
    "from a single moments row — nothing after the scan exceeds "
    "one row of state at any scale.",
)
def x178(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        F.round(F.col("l_discount") * 100, 0).cast("long").alias("discount"),
        F.round(F.col("l_extendedprice") * 100, 0)
        .cast("long")
        .alias("extendedprice"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("quantity"),
        F.round(F.col("l_tax") * 100, 0).cast("long").alias("tax"),
    )
    names = [n for n, _ in _X178_COLS]
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for a in names:
        aggs.append(F.sum(dec(a)).alias(f"s_{a}"))
        aggs.append(F.sum(dec(a) * dec(a)).alias(f"ss_{a}"))
    pairs = [
        (a, b) for i, a in enumerate(names) for b in names[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(F.sum(dec(a) * dec(b)).alias(f"sp_{a}_{b}"))
    mo = scaled.agg(*aggs)

    def _r(a: str, b: str):
        n = F.col("n").cast("decimal(38,0)")
        num = n * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        dx = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        dy = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        return F.round(
            num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double")))
            + F.lit(0.0),
            6,
        )

    rows = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("n").alias("n_rows"),
                _r(a, b).alias("pearson_r"),
            )
            for a, b in pairs
        ]
    )
    return (
        mo.select(F.explode(rows).alias("e"))
        .select("e.col_x", "e.col_y", "e.n_rows", "e.pearson_r")
        .orderBy("col_x", "col_y")
    )


@_q(
    "x179_pipe_rollup",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents
       FROM orders WHERE o_orderstatus <> 'P'
       GROUP BY 1 HAVING COUNT(*) > 10
       ORDER BY o_orderpriority""",
    doc="SQL PIPE SYNTAX surface (Spark 4's |> operator chains — the "
    "GoogleSQL-style linear composition of FROM/WHERE/EXTEND/"
    "AGGREGATE/ORDER stages) certified value-for-value against the "
    "classic nested formulation: the same per-priority revenue "
    "rollup written as a pipeline must hash-match the oracle's "
    "traditional GROUP BY/HAVING — any divergence in how the pipe "
    "planner lowers EXTEND scoping, post-AGGREGATE WHERE (= HAVING) "
    "or aggregate aliasing breaks the gate. Catalyst lowers both to "
    "the identical logical plan, so this rides the same pushdown/"
    "pruning/broadcast machinery — the certification is that the "
    "NEW PARSER SURFACE is sound, the API-coverage twin of x97's "
    "Python DataSource and x98's polymorphic UDTF. The temp view "
    "registration is idempotent and session-scoped.",
)
def x179(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "x179_orders"
    )
    return spark.sql(
        """FROM x179_orders
           |> WHERE o_orderstatus <> 'P'
           |> EXTEND CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                AS cents
           |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                        CAST(SUM(cents) AS BIGINT) AS sum_cents
                GROUP BY o_orderpriority
           |> WHERE n_orders > 10
           |> ORDER BY o_orderpriority"""
    )


def _x180_oracle() -> str:
    """Cleaning-funnel oracle: per-doc lang prediction from the same
    generated marker-score SQL as x03 (the dialects cannot drift on
    the predictor), dedup keepers via MIN-per-fingerprint, stage
    attribution as one first-failing CASE."""
    score_sql = {}
    for lang, markers in tx.LANG_MARKERS.items():
        parts = [
            f"CAST((length(p.t) - length(replace(p.t, '{m}', ''))) / {len(m)} AS INT)"
            for m in markers
        ]
        score_sql[lang] = " + ".join(parts)
    langs = list(tx.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s.score_{l}" for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN s.score_{l} = {best} AND {best} > 0 THEN '{l}'"
        for l in langs
    ) + " ELSE 'unknown' END"
    scores = ", ".join(
        f"{expr} AS score_{l}" for l, expr in score_sql.items()
    )
    return f"""
      WITH p AS (SELECT doc_id, text,
                        ' ' || lower(text) || ' ' AS t
                 FROM documents),
      s AS (SELECT doc_id, text, {scores} FROM p),
      f AS (SELECT doc_id, text, {case} AS pred,
                   md5(lower(trim(text))) AS fp,
                   len(regexp_split_to_array(trim(text), '\\s+'))
                     AS n_tok,
                   length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     AS n_alpha,
                   length(text) AS n_chars
            FROM s),
      k AS (SELECT fp, MIN(doc_id) AS keep_id FROM f GROUP BY fp),
      staged AS (SELECT CASE
                   WHEN f.doc_id <> k.keep_id THEN 'a_exact_dup'
                   WHEN f.n_tok < 20 OR f.n_tok > 90 THEN 'b_length'
                   WHEN f.pred = 'unknown' THEN 'c_lang_unknown'
                   WHEN CAST(f.n_alpha AS DOUBLE)
                        / CAST(f.n_chars AS DOUBLE) < 0.81
                     THEN 'd_quality'
                   ELSE 'e_kept' END AS stage
                 FROM f JOIN k USING (fp)),
      tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM staged)
      SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
             ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(tot.nn AS DOUBLE)
                   + 0.0, 6) AS share
      FROM staged, tot GROUP BY stage, tot.nn ORDER BY stage"""


@_q(
    "x180_cleaning_funnel",
    _x180_oracle(),
    doc="End-to-end corpus cleaning funnel — the composition report "
    "every training-data pipeline publishes: each document attributed "
    "to the FIRST gate that drops it (exact-duplicate -> length trim "
    "-> language-unknown -> quality) or 'kept', with counts and "
    "shares. The gates are the registry's individually-certified "
    "kernels composed in pipeline order (x04's fingerprint keepers, "
    "x01's whitespace token count, x03's marker-score lang-id, x02's "
    "alpha-ratio quality feature); what THIS query certifies is the "
    "composition semantics — first-failing attribution means the "
    "stages partition the corpus exactly (Σ n_docs = corpus), so a "
    "gate evaluated out of order, a doc double-dropped, or a "
    "keeper-vs-copy mixup shifts counts between stages and breaks "
    "the hash. Stage keys carry an explicit prefix order (a_/b_/...) "
    "so the funnel reads in pipeline order under plain string sort. "
    "Shares are one division by the exact total (attached as a "
    "plan-provable 1-row broadcast). Boundary discipline: the "
    "quality threshold compares the SAME exact-integer division on "
    "both engines, so a document landing exactly on 0.81 cannot "
    "diverge. ENGINE: one feature pass (no joins except the "
    "fingerprint-keeper equi-join, whose groups are row-sized), one "
    "stage aggregation. At 100 TB: two shuffles (fingerprint, "
    "stage), everything else map-side.",
)
def x180(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "text",
        tx.predict_lang(F.col("text")).alias("pred"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
        tx.token_count(F.col("text")).alias("n_tok"),
        F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).alias(
            "n_alpha"
        ),
        F.length("text").alias("n_chars"),
    )
    k = f.groupBy("fp").agg(F.min("doc_id").alias("keep_id"))
    staged = f.join(k, "fp").select(
        F.when(F.col("doc_id") != F.col("keep_id"), "a_exact_dup")
        .when(
            (F.col("n_tok") < 20) | (F.col("n_tok") > 90), "b_length"
        )
        .when(F.col("pred") == "unknown", "c_lang_unknown")
        .when(
            F.col("n_alpha").cast("double")
            / F.col("n_chars").cast("double")
            < 0.81,
            "d_quality",
        )
        .otherwise("e_kept")
        .alias("stage")
    )
    tot = staged.agg(F.count(F.lit(1)).cast("long").alias("nn"))
    return (
        staged.groupBy("stage")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "stage",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("nn").cast("double")
                + F.lit(0.0),
                6,
            ).alias("share"),
        )
        .orderBy("stage")
    )


@_q(
    "x181_max_drawdown",
    """WITH daily AS (SELECT CAST(EXTRACT(year FROM o_orderdate)
                                  AS BIGINT) AS y,
                             CAST(o_orderdate AS DATE) AS d,
                             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                           AS BIGINT)) AS BIGINT)
                               AS cents
                      FROM orders GROUP BY 1, 2),
       c AS (SELECT y, d, cents,
                    SUM(cents) OVER (PARTITION BY y ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS cum
             FROM daily),
       p AS (SELECT y, d, cum,
                    MAX(cum) OVER (PARTITION BY y ORDER BY d
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS peak
             FROM c),
       dd AS (SELECT y, d, peak - cum AS drawdown FROM p),
       mx AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_days,
                     CAST(MAX(drawdown) AS BIGINT) AS max_dd
              FROM dd GROUP BY 1)
       SELECT mx.y AS year, mx.n_days,
              mx.max_dd AS max_drawdown_cents,
              MIN(dd.d) AS trough_date
       FROM mx JOIN dd ON dd.y = mx.y AND dd.drawdown = mx.max_dd
       GROUP BY 1, 2, 3 ORDER BY year""",
    doc="Maximum drawdown of the cumulative daily revenue series per "
    "year — the classic risk statistic (largest peak-to-trough drop "
    "of the running total), reported with the earliest trough date "
    "achieving it. It is the PATH-DEPENDENT member of the time-"
    "series tier: unlike x116's CUSUM or x125's trailing z-score it "
    "depends on the running extremum of a cumulative sum, i.e. two "
    "NESTED windows. Everything is exact BIGINT cents end to end — "
    "cumsum, running peak, drawdown, max, and the MIN-date "
    "tiebreak — so there is no float to drift. ENGINE: one daily "
    "aggregation (map-side combinable), then two ordered windows "
    "whose partitions are CALENDAR-sized (<=366 rows per year — the "
    "disc-percentile discipline: ordered windows only ever run over "
    "vocabulary/calendar domains, never raw rows), a per-year max, "
    "and a broadcast argmin attach. ORACLE: identical window "
    "cascade. At 100 TB the daily table is ~3k rows regardless of "
    "order volume; the scan dominates and is one pass.",
)
def x181(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = (
        Window.partitionBy("y")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = daily.withColumn("cum", F.sum("cents").over(w))
    p = c.withColumn("peak", F.max("cum").over(w))
    dd = p.select("y", "d", (F.col("peak") - F.col("cum")).alias("drawdown"))
    mx = dd.groupBy("y").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max("drawdown").cast("long").alias("max_dd"),
    )
    # derived-from-same-source join: alias both sides (ambiguous-
    # self-join discipline) and qualify every column
    a = dd.alias("a")
    b = mx.alias("b")
    return (
        a.join(
            F.broadcast(b),
            (F.col("a.y") == F.col("b.y"))
            & (F.col("a.drawdown") == F.col("b.max_dd")),
        )
        .groupBy(
            F.col("b.y").alias("year"),
            F.col("b.n_days").alias("n_days"),
            F.col("b.max_dd").alias("max_drawdown_cents"),
        )
        .agg(F.min(F.col("a.d")).alias("trough_date"))
        .select("year", "n_days", "max_drawdown_cents", "trough_date")
        .orderBy("year")
    )


@_q(
    "x182_trailing_range_frame",
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
                             CAST(CAST(o_orderdate AS DATE)
                                  - DATE '1970-01-01' AS BIGINT)
                               AS day_int,
                             CAST(SUM(CAST(ROUND(o_totalprice * 100, 0)
                                           AS BIGINT)) AS BIGINT)
                               AS cents
                      FROM orders GROUP BY 1, 2)
       SELECT d, cents,
              CAST(SUM(cents) OVER (ORDER BY day_int
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_30d_cents,
              CAST(COUNT(*) OVER (ORDER BY day_int
                RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_days_window
       FROM daily ORDER BY d""",
    doc="30-day trailing revenue per day via a VALUE-BASED window "
    "frame (RANGE BETWEEN 29 PRECEDING on the integer day) — the "
    "frame class the d24/d25/x125 ROWS windows cannot express when "
    "the series has GAPS: a missing calendar day must shrink the "
    "window's row count, not silently include a 31st day, and "
    "n_days_window makes that property hash-certified (any gap "
    "handled wrong changes both columns). Exact BIGINT cents "
    "throughout. ENGINE: one daily aggregation then a single "
    "ordered RANGE window over the CALENDAR-sized daily table "
    "(~3k rows at any corpus scale — the one-task window is over "
    "the value domain, never raw rows; the fact scan underneath is "
    "the distributed part). ORACLE: the same frame spelled in "
    "DuckDB, whose RANGE implementation is independent. The "
    "Spark side uses rangeBetween(-29, 0) over the epoch-day "
    "integer — certifying that Spark's value-frame semantics "
    "(bound inclusion, peer handling) match the SQL standard's.",
)
def x182(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("day_int"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.orderBy("day_int").rangeBetween(-29, 0)
    return daily.select(
        "d",
        "cents",
        F.sum("cents").over(w).cast("long").alias("trailing_30d_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_days_window"),
    ).orderBy("d")


@_q(
    "x183_percentile_cont",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              ROUND(quantile_cont(cents, 0.25) + 0.0, 6) AS p25,
              ROUND(quantile_cont(cents, 0.50) + 0.0, 6) AS p50,
              ROUND(quantile_cont(cents, 0.75) + 0.0, 6) AS p75
       FROM (SELECT o_orderpriority,
                    CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                      AS cents
             FROM orders)
       GROUP BY 1 ORDER BY 1""",
    doc="Interpolated (continuous) quartiles of order value per "
    "priority — percentile_cont semantics: position (n-1)*q, linear "
    "interpolation between the straddling order statistics — "
    "complementing the registry's DISCRETE percentile family "
    "(x143/d19/d43/x160 all return actual data values; ML feature "
    "pipelines and SLA dashboards usually want the interpolated "
    "form). Exactness: with q in quarters, (n-1)*q is exact integer "
    "arithmetic scaled by 4 (idx4 = (n-1)*p; rank = idx4 div 4 + 1, "
    "rem = idx4 mod 4 — never a float rank, the x160 discipline), "
    "and the interpolated value (x_lo*(4-rem) + x_hi*rem)/4.0 is an "
    "EXACT dyadic rational in cents < 2^53 — bit-identical to the "
    "oracle's x_lo + frac*(x_hi - x_lo) because every term is "
    "exactly representable. The ORACLE is DuckDB's own "
    "quantile_cont — an independent third-party implementation (the "
    "x156/x178 pattern). ENGINE: never row-ranks — the per-group "
    "VALUE HISTOGRAM's grouped_cumsum locates each straddling value "
    "with two rank probes (least value whose cumulative count "
    "reaches the target rank, the x163 technique), so cost is one "
    "histogram shuffle + vocabulary-sized probe joins at any scale.",
)
def x183(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        _int_div,
        grouped_cumsum,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
    )
    hist = o.groupBy("p", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = grouped_cumsum(hist, ["p"], "cents", ["c"])
    totals = hist.groupBy("p").agg(F.sum("c").cast("long").alias("n"))
    quarters = spark.range(1, 4).select(F.col("id").alias("q"))
    idx4 = (F.col("n") - 1) * F.col("q")
    probes = totals.crossJoin(F.broadcast(quarters)).select(
        "p",
        "q",
        "n",
        (_int_div(idx4, F.lit(4)) + 1).alias("klo"),
        F.pmod(idx4, F.lit(4)).cast("long").alias("rem"),
        F.least(
            _int_div(idx4, F.lit(4)) + 2, F.col("n")
        ).alias("khi"),
    )
    j = cum.join(F.broadcast(probes), "p")
    lo = (
        j.where(F.col("cum_c") >= F.col("klo"))
        .groupBy("p", "q", "n", "rem")
        .agg(F.min("cents").alias("xlo"))
    )
    hi = (
        j.where(F.col("cum_c") >= F.col("khi"))
        .groupBy("p", "q")
        .agg(F.min("cents").alias("xhi"))
    )
    vals = lo.join(hi, ["p", "q"]).select(
        "p",
        "q",
        "n",
        (
            (
                F.col("xlo") * (F.lit(4) - F.col("rem"))
                + F.col("xhi") * F.col("rem")
            ).cast("double")
            / F.lit(4.0)
        ).alias("v"),
    )
    return (
        vals.groupBy(F.col("p").alias("o_orderpriority"))
        .agg(
            F.max("n").cast("long").alias("n_rows"),
            F.round(
                F.max(F.when(F.col("q") == 1, F.col("v"))) + F.lit(0.0), 6
            ).alias("p25"),
            F.round(
                F.max(F.when(F.col("q") == 2, F.col("v"))) + F.lit(0.0), 6
            ).alias("p50"),
            F.round(
                F.max(F.when(F.col("q") == 3, F.col("v"))) + F.lit(0.0), 6
            ).alias("p75"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x184_catalog_rename_view",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents,
              CAST(1 AS BIGINT) AS props_intact,
              CAST(1 AS BIGINT) AS old_name_gone,
              CAST(3 AS BIGINT) AS n_catalog_versions
       FROM orders GROUP BY 1 ORDER BY 1""",
    doc="Catalog RENAME + TBLPROPERTIES certified end to end — the "
    "x165 naming layer's DDL verbs (r11 verdict item 7): the ENGINE "
    "commits the orders facts as a snapshot table, registers it under "
    "a name, attaches properties (SET TBLPROPERTIES), RENAMEs it in "
    "ONE atomic catalog publish, and answers the aggregate through a "
    "temp view resolved via the NEW name. The certified invariants "
    "ride as columns the ORACLE pins to literals: props_intact (both "
    "property keys survive the rename attached to the new name), "
    "old_name_gone (the old name no longer resolves), and "
    "n_catalog_versions = 3 (create, set-properties, rename — each "
    "exactly one put-if-absent publish, so the count certifies rename "
    "is one atomic commit, not a drop+create pair). Any wrong "
    "resolution (stale path, lost properties, half-renamed catalog) "
    "breaks a column. Lakehouse-certification tier (x165/x166 "
    "pattern): the catalog publishes ARE the operator under test; "
    "driver-side work is KB-sized catalog JSON plus the bounded "
    "result collect.",
)
def x184(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap
    from deepcell_data_engineering_spark.sources.table_catalog import (
        SnapshotCatalog,
    )

    facts = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="dde_catalog_rename_")
    try:
        t = f"{root}/facts"
        snap.commit(spark, facts, t)
        cat = SnapshotCatalog(f"{root}/cat")
        cat.create_table("x184_staging", t)                    # v0
        cat.set_properties(
            "x184_staging", {"comment": "order facts", "grain": "order"}
        )                                                      # v1
        cat.rename_table("x184_staging", "x184_orders")        # v2
        props = cat.properties("x184_orders")
        props_intact = int(
            props.get("comment") == "order facts"
            and props.get("grain") == "order"
        )
        try:
            cat.lookup("x184_staging")
            old_gone = 0
        except ValueError:
            old_gone = 1
        n_versions = cat.current_version() + 1
        cat.register_temp_view(spark, "x184_orders")
        try:
            agg = spark.sql(
                """SELECT p AS o_orderpriority,
                          CAST(COUNT(*) AS BIGINT) AS n_orders,
                          CAST(SUM(cents) AS BIGINT) AS sum_cents
                   FROM x184_orders GROUP BY p"""
            )
            rows = [
                (r["o_orderpriority"], r["n_orders"], r["sum_cents"])
                for r in agg.collect()
            ]
        finally:
            spark.catalog.dropTempView("x184_orders")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn("props_intact", F.lit(props_intact).cast("bigint"))
        .withColumn("old_name_gone", F.lit(old_gone).cast("bigint"))
        .withColumn(
            "n_catalog_versions", F.lit(n_versions).cast("bigint")
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x185_lifecycle_clone_restore",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents,
              CAST(4 AS BIGINT) AS n_clone_commits,
              CAST(1 AS BIGINT) AS src_intact,
              CAST(0 AS BIGINT) AS n_net_nonzero
       FROM orders GROUP BY 1 ORDER BY 1""",
    doc="The full lakehouse lifecycle certified in one pass — SHALLOW "
    "CLONE, CRUD on the clone, RESTORE, CDC fold (r11 verdict item 8; "
    "the 100x-rehearsal lifecycle leg): orders land as a 2-directory "
    "banded snapshot table with key stats; a shallow clone borrows "
    "both dirs by absolute reference (zero copy); a MERGE bumps a key "
    "slice's cents (copy-on-write rewrites ONLY the touched borrowed "
    "dir into the clone), a DELETE removes another slice, then "
    "RESTORE returns the clone to its v0 — a forward commit that "
    "re-references the source dirs. Certified invariants as columns "
    "the ORACLE pins: the per-priority aggregate equals the RAW "
    "orders aggregate (restore is exact), n_clone_commits = 4 (clone, "
    "merge, delete, restore — history forward-moving, never a log "
    "rewind), src_intact (the SOURCE table's content hash-count never "
    "moved while its dirs were merged/deleted THROUGH the clone), and "
    "n_net_nonzero = 0: the v0->head change feed folds to ZERO net "
    "rows per key — merge's update pairs, delete's deletes and "
    "restore's truncate-and-reload delta cancel exactly. At 100 TB "
    "every leg is manifest-resolution (KB, driver-side) plus data "
    "I/O proportional to the TOUCHED slice; the 100x rehearsal pins "
    "that wall tracks the payload while manifest work stays flat. "
    "Lakehouse-certification tier.",
)
def x185(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    mid = mk // 2
    root = tempfile.mkdtemp(prefix="dde_lifecycle_")
    try:
        src = f"{root}/src"
        dst = f"{root}/clone"
        snap.commit(
            spark, base.where(F.col("k") <= mid), src, stats_cols=["k"]
        )
        v_src = snap.commit(
            spark,
            base.where(F.col("k") > mid),
            src,
            mode="append",
            stats_cols=["k"],
        )
        src_before = snap.read_snapshot(spark, src).agg(
            F.count(F.lit(1)).cast("bigint"),
            F.sum("cents").cast("bigint"),
        ).collect()[0]

        v0 = snap.clone_table(spark, src, dst)                # v0
        merge_src = (
            snap.read_snapshot(spark, dst)
            .where((F.col("k") <= mid) & (F.col("k") % 97 == 3))
            .withColumn("cents", F.col("cents") + F.lit(1000))
        )
        snap.merge_upsert(spark, merge_src, dst, keys=["k"])  # v1
        snap.delete_where(spark, dst, "k % 101 = 7")          # v2
        head = snap.restore_table(spark, dst, v0)             # v3

        src_after = snap.read_snapshot(spark, src).agg(
            F.count(F.lit(1)).cast("bigint"),
            F.sum("cents").cast("bigint"),
        ).collect()[0]
        src_intact = int(
            tuple(src_before) == tuple(src_after)
            and snap.current_version(src) == v_src
        )

        sign = F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        n_net_nonzero = (
            snap.read_changes(spark, dst, v0, head)
            .groupBy("k")
            .agg(F.sum(sign).alias("s"))
            .where(F.col("s") != 0)
            .count()
        )
        agg = (
            snap.read_snapshot(spark, dst, head)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in agg.collect()
        ]
        n_commits = head + 1
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_clone_commits", F.lit(n_commits).cast("bigint"))
        .withColumn("src_intact", F.lit(src_intact).cast("bigint"))
        .withColumn(
            "n_net_nonzero", F.lit(n_net_nonzero).cast("bigint")
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x186_cohens_kappa",
    """WITH cells AS (
         SELECT CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS year,
                CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS a,
                CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END AS b,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2, 3
       ),
       m AS (
         SELECT year,
                CAST(SUM(n) AS BIGINT) AS n,
                CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT)
                  AS n_agree,
                CAST(SUM(CASE WHEN a = 1 THEN n ELSE 0 END) AS BIGINT)
                  AS a1,
                CAST(SUM(CASE WHEN b = 1 THEN n ELSE 0 END) AS BIGINT)
                  AS b1
         FROM cells GROUP BY 1
       )
       SELECT year, n, n_agree,
              ROUND(CAST(n * n_agree - (a1 * b1 + (n - a1) * (n - b1))
                         AS DOUBLE)
                    / CAST(n * n - (a1 * b1 + (n - a1) * (n - b1))
                           AS DOUBLE) + 0.0, 6) AS kappa
       FROM m ORDER BY year""",
    doc="Cohen's kappa — chance-corrected agreement between two "
    "binary raters per ship year (rater A: the line was returned, "
    "rater B: its status is finalized). THE inter-annotator metric a "
    "labeling pipeline reports before trusting human or model labels "
    "(raw agreement rewards imbalanced raters; kappa subtracts the "
    "chance-agreement margin product). Exact-integer discipline: "
    "kappa = (N*agree - (a1*b1 + a0*b0)) / (N^2 - (a1*b1 + a0*b0)) "
    "— every term a BIGINT from the contingency counts, ONE final "
    "division rounded at 6 (x153 convention). ENGINE: one grouped "
    "aggregate with conditional sums (map-side partials, one "
    "shuffle on year); ORACLE derives the same margins through an "
    "explicit (year, a, b) confusion-cell GROUP BY then a second "
    "margin aggregate — a different derivation of the same exact "
    "integers. Output is years-count rows at any scale.",
)
def x186(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("int").alias("year"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("a"),
        F.when(F.col("l_linestatus") == "F", 1).otherwise(0).alias("b"),
    )
    m = li.groupBy("year").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("a") == F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
        F.sum("a").cast("bigint").alias("a1"),
        F.sum("b").cast("bigint").alias("b1"),
    )
    pe_mass = F.col("a1") * F.col("b1") + (F.col("n") - F.col("a1")) * (
        F.col("n") - F.col("b1")
    )
    return m.select(
        "year",
        "n",
        "n_agree",
        F.round(
            (F.col("n") * F.col("n_agree") - pe_mass).cast("double")
            / (F.col("n") * F.col("n") - pe_mass).cast("double")
            + F.lit(0.0),
            6,
        ).alias("kappa"),
    ).orderBy("year")


@_q(
    "x187_hhi_concentration",
    """WITH rev AS (
         SELECT l_suppkey,
                CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                         * (100 - CAST(ROUND(l_discount * 100, 0)
                                       AS BIGINT))) AS BIGINT) AS r
         FROM lineitem GROUP BY 1
       ),
       located AS (
         SELECT n.n_name, rev.r, s.s_suppkey,
                ROW_NUMBER() OVER (PARTITION BY n.n_name
                                   ORDER BY rev.r DESC, s.s_suppkey)
                  AS rk
         FROM rev
         JOIN supplier s ON rev.l_suppkey = s.s_suppkey
         JOIN nation n   ON s.s_nationkey = n.n_nationkey
       )
       SELECT n_name,
              CAST(COUNT(*) AS BIGINT) AS n_suppliers,
              CAST(SUM(r) AS BIGINT) AS tot_c4,
              CAST(SUM(CASE WHEN rk <= 4 THEN r ELSE 0 END) AS BIGINT)
                AS top4_c4,
              ROUND(CAST(SUM(CAST(r AS HUGEINT) * CAST(r AS HUGEINT))
                         AS DOUBLE)
                    / (CAST(SUM(r) AS DOUBLE) * CAST(SUM(r) AS DOUBLE))
                    + 0.0, 6) AS hhi,
              ROUND(CAST(SUM(CASE WHEN rk <= 4 THEN r ELSE 0 END)
                         AS DOUBLE)
                    / CAST(SUM(r) AS DOUBLE) + 0.0, 6) AS cr4
       FROM located GROUP BY n_name ORDER BY n_name""",
    doc="Market-concentration screen per nation over supplier revenue "
    "shares: the Herfindahl-Hirschman index (sum of squared shares — "
    "the antitrust/duplication-concentration statistic; x147's Gini "
    "measures inequality of the curve, HHI measures mass in the "
    "head) and the CR4 four-firm concentration ratio. In a training-"
    "data pipeline the same query screens SOURCE concentration — how "
    "much of a corpus one crawl/provider dominates. Exact-integer "
    "discipline: revenue in 1e-4 currency units (the d49 rev_c4 "
    "idiom, exact BIGINT), per-supplier totals shuffled ONCE on "
    "suppkey, squares accumulated as DECIMAL(38,0) (they overflow "
    "int64 at sf>=1), top-4 selection by rank over the SUPPLIER-"
    "AGGREGATE (per-nation row counts = supplier counts, never "
    "lineitem rows; the window partitions by nation so all nations "
    "rank in parallel); hhi and cr4 are each ONE double division of "
    "exact integers rounded at 6. ENGINE: agg -> broadcast dim joins "
    "-> window over aggregates; ORACLE: the same integers via "
    "DuckDB HUGEINT and its own window. Output is nation-count rows.",
)
def x187(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")
            * (
                F.lit(100)
                - F.round(F.col("l_discount") * 100, 0).cast("bigint")
            )
        ).alias("r4"),
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum("r4").cast("bigint").alias("r")
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    located = rev.join(
        F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"]
    ).join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    w = Window.partitionBy("n_name").orderBy(
        F.desc("r"), F.col("s_suppkey")
    )
    ranked = located.select(
        "n_name", "r", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_suppliers"),
            F.sum("r").cast("bigint").alias("tot_c4"),
            F.sum(F.when(F.col("rk") <= 4, F.col("r")).otherwise(0))
            .cast("bigint")
            .alias("top4_c4"),
            F.sum(
                F.col("r").cast("decimal(38,0)")
                * F.col("r").cast("decimal(38,0)")
            ).alias("ssq"),
        )
        .select(
            "n_name",
            "n_suppliers",
            "tot_c4",
            "top4_c4",
            F.round(
                F.col("ssq").cast("double")
                / (
                    F.col("tot_c4").cast("double")
                    * F.col("tot_c4").cast("double")
                )
                + F.lit(0.0),
                6,
            ).alias("hhi"),
            F.round(
                F.col("top4_c4").cast("double")
                / F.col("tot_c4").cast("double")
                + F.lit(0.0),
                6,
            ).alias("cr4"),
        )
        .orderBy("n_name")
    )


@_q(
    "x188_kruskal_wallis",
    """WITH h AS (
         SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS f,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM lineitem GROUP BY 1, 2
       ),
       tq AS (SELECT q, CAST(SUM(n) AS BIGINT) AS t FROM h GROUP BY 1),
       -- literal-definition cumulation: strictly-smaller mass via a
       -- quadratic domain self-join (the engine uses one window scan)
       rk AS (
         SELECT a.q, a.t,
                2 * COALESCE((SELECT SUM(b.t) FROM tq b WHERE b.q < a.q),
                             0) + a.t + 1 AS r2
         FROM tq a
       ),
       g AS (
         SELECT h.f,
                CAST(SUM(h.n) AS BIGINT) AS n_j,
                CAST(SUM(h.n * rk.r2) AS BIGINT) AS r2_sum
         FROM h JOIN rk ON h.q = rk.q GROUP BY 1
       ),
       gtot AS (
         SELECT CAST(SUM(t) AS BIGINT) AS n_total,
                CAST(SUM(t * t * t - t) AS BIGINT) AS tie_mass
         FROM tq
       ),
       terms AS (
         SELECT g.f, g.n_j, g.r2_sum, gtot.n_total, gtot.tie_mass,
                CAST(ROUND((1000000000.0
                            * (CAST(g.r2_sum AS DOUBLE)
                               * CAST(g.r2_sum AS DOUBLE)))
                           / (4.0 * CAST(g.n_j AS DOUBLE)), 0)
                     AS DECIMAL(38,0)) AS u
         FROM g, gtot
       ),
       su AS (SELECT CAST(SUM(u) AS DECIMAL(38,0)) AS su FROM terms)
       SELECT t.f AS l_returnflag, t.n_j, t.r2_sum, t.n_total,
              t.tie_mass,
              ROUND((12.0 * (CAST(su.su AS DOUBLE) / 1000000000.0)
                     / (CAST(t.n_total AS DOUBLE)
                        * CAST(t.n_total + 1 AS DOUBLE))
                     - 3.0 * CAST(t.n_total + 1 AS DOUBLE))
                    / (1.0 - CAST(t.tie_mass AS DOUBLE)
                             / (CAST(t.n_total AS DOUBLE)
                                * CAST(t.n_total AS DOUBLE)
                                * CAST(t.n_total AS DOUBLE)
                                - CAST(t.n_total AS DOUBLE)))
                    + 0.0, 6) AS h_corrected
       FROM terms t, su ORDER BY t.f""",
    doc="Kruskal-Wallis H — the k-group generalization of x153's "
    "Mann-Whitney (rank ANOVA): do the quantity distributions of the "
    "three return-flag populations share a location? The "
    "distribution-free gate before trusting k-way mean comparisons. "
    "Everything derives from the (quantity, flag) VALUE HISTOGRAM "
    "(domain-bounded: ~50 x 3 cells at any corpus size), never row "
    "ranks: tie-averaged DOUBLED ranks r2(q) = 2*cum(<q) + t(q) + 1 "
    "stay exact integers (the x168 double-rank trick), per-group "
    "doubled rank sums R2_j are exact BIGINTs, and each group's "
    "H term R2_j^2/(4 n_j) is rounded ONCE to 1e-9 units and summed "
    "as BIGINT (the x174 unit-sum rule — group-order-free, layout-"
    "invariant), with the tie correction 1 - sum(t^3-t)/(N^3-N) "
    "applied in the single final float expression rounded at 6. "
    "R2_j < 2^53 through sf1 so the double square is exact-input "
    "deterministic IEEE in both engines. ENGINE: one window scan "
    "over the 50-value domain; ORACLE: literal-definition quadratic "
    "cumulation (correlated subquery) — two algorithms, one answer. "
    "Output: one row per group, globals denormalized alongside.",
)
def x188(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    h = li.groupBy(
        F.col("l_quantity").cast("long").alias("q"),
        F.col("l_returnflag").alias("f"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tq = h.groupBy("q").agg(F.sum("n").cast("long").alias("t"))
    w = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    rk = tq.select(
        "q",
        "t",
        (
            F.lit(2) * F.coalesce(F.sum("t").over(w), F.lit(0))
            + F.col("t")
            + F.lit(1)
        ).alias("r2"),
    )
    g = (
        h.join(rk.select("q", "r2"), "q")
        .groupBy("f")
        .agg(
            F.sum("n").cast("long").alias("n_j"),
            F.sum(F.col("n") * F.col("r2")).cast("long").alias("r2_sum"),
        )
    )
    glob = tq.agg(
        F.sum("t").cast("long").alias("n_total"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_mass"),
    )
    terms = g.crossJoin(F.broadcast(glob)).withColumn(
        "u",
        F.round(
            (
                F.lit(1000000000.0)
                * (
                    F.col("r2_sum").cast("double")
                    * F.col("r2_sum").cast("double")
                )
            )
            / (F.lit(4.0) * F.col("n_j").cast("double")),
            0,
        ).cast("decimal(38,0)"),
    )
    su = terms.agg(F.sum("u").cast("decimal(38,0)").alias("su"))
    nt = F.col("n_total").cast("double")
    h_expr = (
        F.lit(12.0)
        * (F.col("su").cast("double") / F.lit(1000000000.0))
        / (nt * (F.col("n_total") + 1).cast("double"))
        - F.lit(3.0) * (F.col("n_total") + 1).cast("double")
    )
    c_expr = F.lit(1.0) - F.col("tie_mass").cast("double") / (
        nt * nt * nt - nt
    )
    return (
        terms.crossJoin(F.broadcast(su))
        .select(
            F.col("f").alias("l_returnflag"),
            "n_j",
            "r2_sum",
            "n_total",
            "tie_mass",
            F.round(h_expr / c_expr + F.lit(0.0), 6).alias("h_corrected"),
        )
        .orderBy("l_returnflag")
    )


@_q(
    "x189_log_odds_keyness",
    r"""WITH tok AS (
         SELECT doc_id,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                  AS term
         FROM documents
       ),
       lab AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END
                 AS half, term
               FROM tok WHERE term <> ''),
       c AS (SELECT term,
                    CAST(SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END)
                         AS BIGINT) AS y_a,
                    CAST(SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END)
                         AS BIGINT) AS y_b
             FROM lab GROUP BY 1),
       m AS (SELECT CAST(SUM(y_a) AS BIGINT) AS n_a,
                    CAST(SUM(y_b) AS BIGINT) AS n_b,
                    CAST(COUNT(*) AS BIGINT) AS v
             FROM c),
       z AS (
         SELECT c.term, c.y_a, c.y_b,
                LN(CAST(2 * c.y_a + 1 AS DOUBLE)
                   / CAST(2 * m.n_a + m.v - 2 * c.y_a - 1 AS DOUBLE))
                - LN(CAST(2 * c.y_b + 1 AS DOUBLE)
                     / CAST(2 * m.n_b + m.v - 2 * c.y_b - 1 AS DOUBLE))
                  AS delta,
                SQRT(1.0 / (CAST(c.y_a AS DOUBLE) + 0.5)
                     + 1.0 / (CAST(c.y_b AS DOUBLE) + 0.5)) AS sd
         FROM c, m WHERE c.y_a + c.y_b >= 5
       )
       SELECT term, y_a, y_b,
              ROUND(delta + 0.0, 6) AS delta,
              ROUND(delta / sd + 0.0, 6) AS z
       FROM z
       ORDER BY ROUND(delta / sd + 0.0, 6) DESC, term LIMIT 40""",
    doc="Corpus keyness via log-odds with a Dirichlet prior (Monroe "
    "et al's 'Fightin' Words' statistic) between the even- and odd-"
    "doc_id halves of the corpus (the x175 split): which terms are "
    "OVERREPRESENTED in one subcorpus after damping rare-term noise "
    "— the screen a data pipeline runs to characterize what a "
    "source/filter actually changed (raw frequency ratios explode on "
    "rare terms; the +1/2 prior and the z-normalization 1/(y+.5)+"
    "1/(y'+.5) are the standard fix). Float discipline: every ln/"
    "sqrt argument is an EXACT integer rational (half counts doubled "
    "into (2y+1)/(2n+V-2y-1) so numerator and denominator stay "
    "integers), all arithmetic is PER-TOKEN (no cross-partition "
    "float sums anywhere — layout-invariant by construction), z "
    "rounded once at 6 and the top-40 ordering keys on the ROUNDED "
    "value with the term as tie-break. ENGINE: explode -> one token-"
    "keyed aggregate -> broadcast margin join; ORACLE: the same "
    "exact integers through a label-first derivation. Vocabulary-"
    "sized after one shuffle at any corpus size; min-count >= 5 "
    "bounds the scored set.",
)
def x189(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    c = (
        tx.tokens(docs)
        .groupBy("term")
        .agg(
            F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0))
            .cast("long")
            .alias("y_a"),
            F.sum(F.when(F.col("doc_id") % 2 == 1, 1).otherwise(0))
            .cast("long")
            .alias("y_b"),
        )
    )
    m = c.agg(
        F.sum("y_a").cast("long").alias("n_a"),
        F.sum("y_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    z = (
        c.where(F.col("y_a") + F.col("y_b") >= 5)
        .crossJoin(F.broadcast(m))
        .select(
            "term",
            "y_a",
            "y_b",
            (
                F.log(
                    (2 * F.col("y_a") + 1).cast("double")
                    / (
                        2 * F.col("n_a") + F.col("v") - 2 * F.col("y_a") - 1
                    ).cast("double")
                )
                - F.log(
                    (2 * F.col("y_b") + 1).cast("double")
                    / (
                        2 * F.col("n_b") + F.col("v") - 2 * F.col("y_b") - 1
                    ).cast("double")
                )
            ).alias("delta_raw"),
            F.sqrt(
                F.lit(1.0) / (F.col("y_a").cast("double") + F.lit(0.5))
                + F.lit(1.0) / (F.col("y_b").cast("double") + F.lit(0.5))
            ).alias("sd"),
        )
    )
    return (
        z.select(
            "term",
            "y_a",
            "y_b",
            F.round(F.col("delta_raw") + F.lit(0.0), 6).alias("delta"),
            F.round(F.col("delta_raw") / F.col("sd") + F.lit(0.0), 6).alias(
                "z"
            ),
        )
        .orderBy(F.desc("z"), "term")
        .limit(40)
    )


@_q(
    "x190_mann_kendall_trend",
    """WITH series AS (
         SELECT o_orderpriority AS p,
                date_trunc('month', o_orderdate) AS month,
                CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS cents
         FROM orders GROUP BY 1, 2
       ),
       s AS (
         SELECT a.p,
                CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                              WHEN b.cents < a.cents THEN -1
                              ELSE 0 END) AS BIGINT) AS s_stat
         FROM series a JOIN series b
           ON a.p = b.p AND b.month > a.month
         GROUP BY 1
       ),
       t AS (
         SELECT p, CAST(COUNT(*) AS BIGINT) AS n_months,
                CAST(COALESCE(SUM(tt * (tt - 1) / 2), 0) AS BIGINT)
                  AS tie_pairs
         FROM (SELECT p, cents, COUNT(*) AS tt
               FROM series GROUP BY p, cents) g
         GROUP BY 1
       )
       SELECT t.p AS o_orderpriority, t.n_months, s.s_stat,
              ROUND(CAST(s.s_stat AS DOUBLE)
                    / SQRT((CAST(t.n_months * (t.n_months - 1) / 2
                                 AS DOUBLE))
                           * (CAST(t.n_months * (t.n_months - 1) / 2
                                   - t.tie_pairs AS DOUBLE)))
                    + 0.0, 6) AS tau_b
       FROM s JOIN t ON s.p = t.p ORDER BY 1""",
    doc="Mann-Kendall trend test with Kendall tau-b per priority "
    "class over the MONTHLY revenue series — the distribution-free "
    "is-this-metric-drifting detector (x111 fits a least-squares "
    "slope, which an outlier month can buy; the MK S statistic "
    "counts concordant-minus-discordant month pairs and cannot). "
    "Scale shape: the quadratic pair enumeration runs over the "
    "(priority, month) AGGREGATE — the time dimension is bounded "
    "(~84 months) however many rows the fact table grows, so the "
    "self-join is vocabulary-sized at any corpus scale and the one "
    "data-sized operation is the grouped monthly rollup (single "
    "shuffle, map-side partials). Exact integers end to end (cents "
    "sums, S, tie pairs from the value histogram); tau-b's one "
    "float expression (S / sqrt((n0)(n0-T))) is computed from them "
    "and rounded once at 6. ENGINE: aggregate -> windowless pair "
    "join (alias two sides); ORACLE: the same S via a join it "
    "derives independently plus the tie histogram. Time ties are "
    "impossible (months are distinct by construction), so only the "
    "value-tie correction appears.",
)
def x190(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    series = orders.groupBy(
        F.col("o_orderpriority").alias("p"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    a = series.alias("a")
    b = series.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.p") == F.col("b.p"))
            & (F.col("b.month") > F.col("a.month")),
        )
        .groupBy(F.col("a.p").alias("p"))
        .agg(
            F.sum(
                F.when(F.col("b.cents") > F.col("a.cents"), 1)
                .when(F.col("b.cents") < F.col("a.cents"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        series.groupBy("p", "cents")
        .agg(F.count(F.lit(1)).alias("tt"))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_months"),
            F.coalesce(
                F.sum(F.col("tt") * (F.col("tt") - 1) / 2), F.lit(0)
            )
            .cast("long")
            .alias("tie_pairs"),
        )
    )
    n0 = (F.col("n_months") * (F.col("n_months") - 1) / 2).cast("double")
    return (
        s.join(ties, "p")
        .select(
            F.col("p").alias("o_orderpriority"),
            "n_months",
            "s_stat",
            F.round(
                F.col("s_stat").cast("double")
                / F.sqrt(
                    n0
                    * (
                        (
                            F.col("n_months") * (F.col("n_months") - 1) / 2
                        ).cast("double")
                        - F.col("tie_pairs").cast("double")
                    )
                )
                + F.lit(0.0),
                6,
            ).alias("tau_b"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x191_lcg_sample_estimate",
    """WITH tagged AS (
         SELECT o_orderpriority AS p,
                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents,
                ((o_orderkey * 1103515245 + 12345) % 2147483648) % 100
                  AS slot
         FROM orders
       )
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_pop,
              CAST(SUM(cents) AS BIGINT) AS true_cents,
              CAST(SUM(CASE WHEN slot < 10 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_sample,
              CAST(10 * SUM(CASE WHEN slot < 10 THEN cents ELSE 0 END)
                   AS BIGINT) AS est_cents,
              ROUND((CAST(10 * SUM(CASE WHEN slot < 10 THEN cents
                                        ELSE 0 END) AS DOUBLE)
                     - CAST(SUM(cents) AS DOUBLE))
                    / CAST(SUM(cents) AS DOUBLE) + 0.0, 6) AS err_frac
       FROM tagged GROUP BY 1 ORDER BY 1""",
    doc="REPRODUCIBLE sampling certified bit-for-bit: a keyed LCG "
    "hash ((k*1103515245 + 12345) mod 2^31, pure integer arithmetic "
    "identical in any engine) assigns every order a deterministic "
    "slot; slot < 10 is a 10% sample that is stable across engines, "
    "partition layouts, retries and reruns — the property rand()-"
    "based sampling fundamentally lacks and the one that makes "
    "training-data subsets AUDITABLE (the same sample can be "
    "re-derived years later from keys alone; x24/x61 sample by "
    "engine-local hashing, so only their STATISTICS are checkable — "
    "here the MEMBERSHIP itself is the certified object). The "
    "Horvitz-Thompson estimate (10x the sampled mass) and its "
    "per-class relative error ride along: exact BIGINTs until the "
    "one error division, rounded at 6. Map-only tagging (no extra "
    "shuffle beyond the grouped aggregate); intermediate k*1103515245 "
    "peaks ~7e17 at sf100 — inside int64. Output is one row per "
    "priority class at any scale.",
)
def x191(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
        (
            (F.col("o_orderkey") * 1103515245 + 12345) % 2147483648
        ).alias("slot_raw"),
    ).withColumn("slot", F.col("slot_raw") % 100)
    return (
        tagged.groupBy(F.col("p").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pop"),
            F.sum("cents").cast("bigint").alias("true_cents"),
            F.sum(F.when(F.col("slot") < 10, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sample"),
            (
                F.lit(10)
                * F.sum(F.when(F.col("slot") < 10, F.col("cents")).otherwise(0))
            )
            .cast("bigint")
            .alias("est_cents"),
        )
        .withColumn(
            "err_frac",
            F.round(
                (
                    F.col("est_cents").cast("double")
                    - F.col("true_cents").cast("double")
                )
                / F.col("true_cents").cast("double")
                + F.lit(0.0),
                6,
            ),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x192_negative_sampling",
    """WITH types AS (SELECT DISTINCT event_type FROM events),
       active AS (SELECT DISTINCT user_id,
                         CAST(date_trunc('week', ts) AS DATE) AS week
                  FROM events),
       pos AS (SELECT DISTINCT user_id,
                      CAST(date_trunc('week', ts) AS DATE) AS week,
                      event_type
               FROM events),
       cand AS (
         SELECT a.user_id, a.week, t.event_type,
                (a.user_id * 1103515245
                 + date_diff('day', DATE '1970-01-01', a.week)
                   * 2654435761
                 + ('0x' || substr(md5(t.event_type), 1, 15))::BIGINT)
                  % 2147483648 AS h
         FROM active a CROSS JOIN types t
         WHERE NOT EXISTS (SELECT 1 FROM pos
                           WHERE pos.user_id = a.user_id
                             AND pos.week = a.week
                             AND pos.event_type = t.event_type)
       ),
       ranked AS (
         SELECT event_type,
                ROW_NUMBER() OVER (PARTITION BY user_id, week
                                   ORDER BY h, event_type) AS rk
         FROM cand
       )
       SELECT event_type,
              CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rank1,
              CAST(SUM(CASE WHEN rk = 2 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_rank2,
              CAST(COUNT(*) AS BIGINT) AS n_candidates
       FROM ranked GROUP BY 1 ORDER BY 1""",
    doc="Deterministic negative sampling for contrastive training — "
    "for every ACTIVE (user, week) slice, the event types the user "
    "did NOT produce that week are ranked by a keyed LCG-over-md5 "
    "hash (engine-portable integer arithmetic, the x191 "
    "reproducibility property: the same negatives re-derive from "
    "keys alone on any engine, layout or rerun — rand()-based "
    "negative samplers cannot be audited) and the top-2 per slice "
    "are the training negatives (the recommender two-tower recipe: "
    "positives = interactions in the window, negatives = items "
    "passed over in the SAME window). The certified object is the "
    "MEMBERSHIP distribution: how often each type lands at rank "
    "1/2, plus the candidate count. Scale shape: active-slices x "
    "types is a BROADCAST cross join against a VOCABULARY-sized "
    "type list (bounded fan-out, never user x user; slice count is "
    "bounded by the event count), the anti join on (user, week, "
    "type) is one shuffle, and the ranking window partitions on "
    "(user, week) — millions of tiny partitions, embarrassingly "
    "parallel. ORACLE: NOT EXISTS + its own window. Output is "
    "type-vocabulary-sized.",
    bnlj_bounded=32,
)
def x192(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "week", F.date_trunc("week", F.col("ts")).cast("date")
    )
    types = ev.select("event_type").distinct()
    active = ev.select("user_id", "week").distinct()
    pos = ev.select("user_id", "week", "event_type").distinct()
    h_type = F.conv(F.substring(F.md5(F.col("event_type")), 1, 15), 16, 10).cast(
        "long"
    )
    wk_days = F.datediff(F.col("week"), F.lit("1970-01-01").cast("date"))
    cand = (
        active.crossJoin(F.broadcast(types))
        .join(pos, ["user_id", "week", "event_type"], "anti")
        .select(
            "user_id",
            "week",
            "event_type",
            (
                (
                    F.col("user_id") * 1103515245
                    + wk_days.cast("long") * 2654435761
                    + h_type
                )
                % 2147483648
            ).alias("h"),
        )
    )
    w = Window.partitionBy("user_id", "week").orderBy("h", "event_type")
    ranked = cand.select(
        "event_type", F.row_number().over(w).alias("rk")
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rank1"),
            F.sum(F.when(F.col("rk") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_rank2"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        )
        .orderBy("event_type")
    )


@_q(
    "x193_preference_pairs",
    """WITH scored AS (
         SELECT source, doc_id,
                CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                     AS BIGINT) * 1000
                + CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                       AS BIGINT) AS score
         FROM documents WHERE source IS NOT NULL
       ),
       best AS (
         SELECT source, doc_id AS best_doc, score AS best_score
         FROM (SELECT source, doc_id, score,
                      ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY score DESC, doc_id)
                        AS rk
               FROM scored) WHERE rk = 1
       ),
       worst AS (
         SELECT source, doc_id AS worst_doc, score AS worst_score
         FROM (SELECT source, doc_id, score,
                      ROW_NUMBER() OVER (PARTITION BY source
                                         ORDER BY score ASC, doc_id)
                        AS rk
               FROM scored) WHERE rk = 1
       )
       SELECT b.source, b.best_doc, b.best_score,
              w.worst_doc, w.worst_score,
              b.best_score - w.worst_score AS margin
       FROM best b JOIN worst w ON b.source = w.source
       WHERE b.best_score - w.worst_score >= 1000
       ORDER BY b.source""",
    doc="Preference-pair mining (the DPO/RLHF data-prep primitive): "
    "per source group, the highest- and lowest-quality documents "
    "form a (chosen, rejected) training pair, kept only when the "
    "quality margin clears a threshold (near-ties teach nothing). "
    "Quality is an exact-integer proxy (alpha-chars * 1000 + token "
    "count — the x02 feature family, kept integral so comparisons "
    "are exact and tie-breaks on doc_id are total). ENGINE: one "
    "aggregation with struct-max/struct-min (max(struct(score, "
    "-doc_id)) picks the max score THEN the min doc_id — argmax "
    "with a deterministic tie-break, no window, ONE shuffle on "
    "source with map-side partials); ORACLE: two ROW_NUMBER windows "
    "and a self-join — different algorithm, same pairs. At 100 TB "
    "the group aggregate is the scale-safe form: per-group state is "
    "two structs however many documents a source holds.",
)
def x193(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isNotNull()
    )
    scored = docs.select(
        "source",
        "doc_id",
        (
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast(
                "bigint"
            )
            * 1000
            + tx.token_count(F.col("text")).cast("bigint")
        ).alias("score"),
    )
    agg = scored.groupBy("source").agg(
        F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("nd"))).alias(
            "b"
        ),
        F.min(
            F.struct(F.col("score"), F.col("doc_id").alias("d"))
        ).alias("w"),
    )
    return (
        agg.select(
            "source",
            (-F.col("b.nd")).cast("bigint").alias("best_doc"),
            F.col("b.score").alias("best_score"),
            F.col("w.d").cast("bigint").alias("worst_doc"),
            F.col("w.score").alias("worst_score"),
            (F.col("b.score") - F.col("w.score")).alias("margin"),
        )
        .where(F.col("margin") >= 1000)
        .orderBy("source")
    )


@_q(
    "x194_asof_nearest_tolerance",
    """WITH p AS (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase'),
       v AS (SELECT DISTINCT user_id, ts FROM events
             WHERE event_type = 'view'),
       m AS (
         SELECT p.user_id, p.ts, n.vts
         FROM p LEFT JOIN LATERAL (
           SELECT v.ts AS vts FROM v
           WHERE v.user_id = p.user_id
             AND abs(epoch_us(v.ts) - epoch_us(p.ts))
                 <= 7200000000
           ORDER BY abs(epoch_us(v.ts) - epoch_us(p.ts)), v.ts
           LIMIT 1
         ) n ON TRUE
       )
       SELECT user_id % 10 AS user_bucket,
              CAST(COUNT(*) AS BIGINT) AS n_purchases,
              CAST(SUM(CASE WHEN vts IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_matched,
              CAST(COALESCE(SUM(abs(epoch_us(vts) - epoch_us(ts))
                                // 1000), 0) AS BIGINT)
                AS sum_abs_delta_ms,
              ROUND(CAST(SUM(CASE WHEN vts IS NOT NULL THEN 1 ELSE 0 END)
                         AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.0, 6) AS match_share
       FROM m GROUP BY 1 ORDER BY 1""",
    doc="NEAREST as-of join with tolerance (operators/joins.py:"
    "asof_join direction='nearest') — every purchase matched to the "
    "user's closest view within +/-2h, whichever side of the clock "
    "it falls on, ties to the earlier view (pandas merge_asof "
    "nearest semantics; x16 certifies the backward-only form). The "
    "ENGINE computes both carries in ONE pass: union the two "
    "streams, ONE shuffle on user_id, one sort, and the backward "
    "carry (last right row over the preceding frame) and forward "
    "carry (first right row over the following frame) are two "
    "window functions over the SAME sorted layout — never a range "
    "join, never a second exchange; per-direction tolerance nulls "
    "apply BEFORE the pick so a too-far past match cannot shadow an "
    "in-range future one. The ORACLE is a literal LATERAL nearest-"
    "neighbor subquery (min |delta| LIMIT 1). The time axis is "
    "exact BIGINT epoch-MICROSECONDS on both sides (the corpus is "
    "microsecond-grained, so unix_micros/epoch_us lose nothing), "
    "deltas floored to ms; the one float column is the match "
    "share, one division rounded at 6. "
    "Output is 10 user-bucket rows at any scale.",
)
def x194(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").withColumn(
        "tus", F.unix_micros(F.col("ts"))
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "tus", "event_id"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select("user_id", "tus")
        .distinct()
    )
    tol_us = 7200000000  # 2 hours in microseconds
    matched = asof_join(
        purchases,
        views,
        on="tus",
        by="user_id",
        value_cols=[],
        direction="nearest",
        tolerance=F.lit(tol_us),
    )
    delta_ms = F.floor(
        F.abs(F.col("tus_matched") - F.col("tus")) / F.lit(1000)
    ).cast("bigint")
    return (
        matched.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum(F.when(F.col("tus_matched").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_matched"),
            F.coalesce(F.sum(delta_ms), F.lit(0))
            .cast("bigint")
            .alias("sum_abs_delta_ms"),
        )
        .withColumn(
            "match_share",
            F.round(
                F.col("n_matched").cast("double")
                / F.col("n_purchases").cast("double")
                + F.lit(0.0),
                6,
            ),
        )
        .orderBy("user_bucket")
    )


@_q(
    "x195_poisson_bootstrap_ci",
    """WITH reps AS (SELECT unnest(generate_series(0, 47)) AS b),
       weighted AS (
         SELECT o.o_orderpriority AS p, r.b,
                CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents,
                CASE WHEN s < 368 THEN 0 WHEN s < 736 THEN 1
                     WHEN s < 920 THEN 2 ELSE 3 END AS w
         FROM (SELECT *, ((o_orderkey * 1103515245
                           + 2654435761 * 0 + 12345)) AS seed0
               FROM orders) o
         CROSS JOIN reps r
         CROSS JOIN LATERAL (
           SELECT ((o.o_orderkey * 1103515245 + r.b * 2654435761
                    + 12345) % 2147483648) % 1000 AS s
         ) q
       ),
       means AS (
         SELECT p, b,
                CAST(SUM(w * cents) AS BIGINT) AS num,
                CAST(SUM(w) AS BIGINT) AS den
         FROM weighted GROUP BY 1, 2
       ),
       ranked AS (
         SELECT p, b, num, den,
                CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS m,
                ROW_NUMBER() OVER (
                  PARTITION BY p
                  ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE), b)
                  AS rn
         FROM means
       ),
       full_mean AS (
         SELECT o_orderpriority AS p,
                CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     AS BIGINT) AS tot
         FROM orders GROUP BY 1
       )
       SELECT f.p AS o_orderpriority, f.n,
              ROUND(CAST(f.tot AS DOUBLE) / CAST(f.n AS DOUBLE) + 0.0, 6)
                AS mean_cents,
              ROUND(MAX(CASE WHEN r.rn = 2 THEN r.m END) + 0.0, 6)
                AS ci_lo,
              ROUND(MAX(CASE WHEN r.rn = 47 THEN r.m END) + 0.0, 6)
                AS ci_hi
       FROM full_mean f JOIN ranked r ON f.p = r.p
       GROUP BY f.p, f.n, f.tot ORDER BY 1""",
    doc="Deterministic Poisson bootstrap confidence interval for the "
    "per-class mean order value — error bars on corpus statistics "
    "WITHOUT resampling by index (the streaming/MapReduce bootstrap: "
    "each replicate draws every row's multiplicity from Poisson(1), "
    "so one pass over the data serves all 48 replicates; here the "
    "multiplicity in {0,1,2,3} comes from a keyed LCG slot — "
    "367/368/184/81 per mille, the Poisson(1) pmf truncated at 3 — "
    "making the resample REPRODUCIBLE bit-for-bit on any engine, "
    "the x191/x192 auditability property). Replicate means stay "
    "exact integer pairs (num, den) until one division; the CI is "
    "an ORDER-STATISTIC pick (ranks 2 and 47 of 48, ~2.5/97.5 "
    "percentiles) over the tiny per-class replicate set via a "
    "window with b as the tie-break — no float summation anywhere, "
    "layout-invariant by construction. Scale shape: the 48x "
    "fan-out is a bounded map-side explode feeding ONE grouped "
    "aggregate on (class, replicate) — 100 TB cost is 48 linear "
    "passes fused into one shuffle of class x 48 cells; the final "
    "window runs over 48-row groups. ORACLE: generate_series + "
    "LATERAL slot arithmetic, same integers.",
)
def x195(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    weighted = orders.select(
        "p",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(47))).alias("b"),
        F.col("k"),
    ).select(
        "p",
        "b",
        "cents",
        (
            (
                (
                    F.col("k") * 1103515245
                    + F.col("b").cast("long") * 2654435761
                    + 12345
                )
                % 2147483648
            )
            % 1000
        ).alias("s"),
    ).withColumn(
        "w",
        F.when(F.col("s") < 368, 0)
        .when(F.col("s") < 736, 1)
        .when(F.col("s") < 920, 2)
        .otherwise(3),
    )
    means = weighted.groupBy("p", "b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("num"),
        F.sum("w").cast("long").alias("den"),
    )
    m = (F.col("num").cast("double") / F.col("den").cast("double")).alias(
        "m"
    )
    w_rank = Window.partitionBy("p").orderBy(
        F.col("num").cast("double") / F.col("den").cast("double"), "b"
    )
    ranked = means.select(
        "p", "b", m, F.row_number().over(w_rank).alias("rn")
    )
    full = orders.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("tot"),
    )
    ci = ranked.groupBy("p").agg(
        F.max(F.when(F.col("rn") == 2, F.col("m"))).alias("lo"),
        F.max(F.when(F.col("rn") == 47, F.col("m"))).alias("hi"),
    )
    return (
        full.join(ci, "p")
        .select(
            F.col("p").alias("o_orderpriority"),
            "n",
            F.round(
                F.col("tot").cast("double") / F.col("n").cast("double")
                + F.lit(0.0),
                6,
            ).alias("mean_cents"),
            F.round(F.col("lo") + F.lit(0.0), 6).alias("ci_lo"),
            F.round(F.col("hi") + F.lit(0.0), 6).alias("ci_hi"),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x196_tombstone_merge_feed",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders),
       fin AS (SELECT p,
                      CASE WHEN k % 97 = 3 THEN cents + 1000
                           ELSE cents END AS cents
               FROM base WHERE k % 101 <> 7),
       nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tombstoned
              FROM base WHERE k % 101 = 7)
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              nd.n_tombstoned
       FROM fin, nd GROUP BY 1, 4 ORDER BY 1""",
    doc="The CDC-apply pattern certified end to end — MERGE with the "
    "WHEN MATCHED AND op='D' THEN DELETE clause (snapshots.py:"
    "merge_upsert delete_condition/source_meta_cols; x167 certifies "
    "the update/insert clauses, this adds the tombstone third): the "
    "ENGINE commits the orders facts as a banded 2-dir snapshot "
    "table, then applies ONE mixed CDC batch — updates (k%97=3, "
    "cents+1000), tombstones (k%101=7, op='D') and the op flag "
    "stripped as source metadata — in a single MERGE commit. The "
    "final snapshot aggregate must equal the ORACLE's CASE-logic "
    "derivation from raw orders, and n_tombstoned (the count of "
    "delete/delete rows in the commit's persisted change feed) must "
    "equal the oracle's literal k%101=7 count — certifying both the "
    "surviving data AND the exact change set a downstream consumer "
    "folds. Keys in both slices (k%97=3 AND k%101=7) are deletes — "
    "one source row per key, the Delta MERGE precondition. Scale "
    "shape: copy-on-write at directory granularity; a batch "
    "touching both bands rewrites both, the feed ships row-exact "
    "deltas, manifest work stays KB-sized. Lakehouse-certification "
    "tier.",
)
def x196(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    mid = mk // 2
    root = tempfile.mkdtemp(prefix="dde_tombstone_")
    try:
        t = f"{root}/t"
        snap.commit(spark, base.where(F.col("k") <= mid), t,
                    stats_cols=["k"])
        v1 = snap.commit(
            spark,
            base.where(F.col("k") > mid),
            t,
            mode="append",
            stats_cols=["k"],
        )
        batch = (
            base.where((F.col("k") % 97 == 3) | (F.col("k") % 101 == 7))
            .withColumn(
                "op",
                F.when(F.col("k") % 101 == 7, F.lit("D")).otherwise(
                    F.lit("U")
                ),
            )
            .withColumn(
                "cents",
                F.when(
                    F.col("op") == "U", F.col("cents") + F.lit(1000)
                ).otherwise(F.col("cents")),
            )
        )
        v2 = snap.merge_upsert(
            spark,
            batch,
            t,
            keys=["k"],
            delete_condition="op = 'D'",
            source_meta_cols=["op"],
        )
        n_tomb = (
            snap.read_changes(spark, t, v1, v2)
            .where(
                (F.col("_change_type") == "delete")
                & (F.col("_change_subtype") == "delete")
            )
            .count()
        )
        agg = (
            snap.read_snapshot(spark, t, v2)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in agg.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_tombstoned", F.lit(n_tomb).cast("bigint"))
        .orderBy("o_orderpriority")
    )


@_q(
    "x197_time_embargo_split",
    """WITH span AS (
         SELECT MIN(o_orderdate) AS dmin, MAX(o_orderdate) AS dmax
         FROM orders
       ),
       cuts AS (
         SELECT dmin,
                dmin + ((7 * date_diff('day', dmin, dmax)) // 10)
                       * INTERVAL 1 DAY AS d_train,
                dmin + ((7 * date_diff('day', dmin, dmax)) // 10 + 30)
                       * INTERVAL 1 DAY AS d_embargo
         FROM span
       ),
       tagged AS (
         SELECT CASE WHEN o.o_orderdate <= c.d_train THEN 'train'
                     WHEN o.o_orderdate <= c.d_embargo THEN 'embargo'
                     ELSE 'test' END AS split,
                o.o_custkey, o.o_orderdate
         FROM orders o, cuts c
       ),
       leak AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS n_shared_custkeys
         FROM (SELECT o_custkey FROM tagged WHERE split = 'train'
               INTERSECT
               SELECT o_custkey FROM tagged WHERE split = 'test') s
       ),
       tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM tagged)
       SELECT t.split,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(COUNT(DISTINCT t.o_custkey) AS BIGINT) AS n_custkeys,
              MIN(t.o_orderdate) AS min_date,
              MAX(t.o_orderdate) AS max_date,
              ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(tot.n_all AS DOUBLE)
                    + 0.0, 6) AS share,
              leak.n_shared_custkeys
       FROM tagged t, leak, tot
       GROUP BY t.split, leak.n_shared_custkeys, tot.n_all
       ORDER BY t.split""",
    doc="Time-ordered train/embargo/test split — the leakage-safe "
    "evaluation protocol for forecasting/financial ML (and for LLM "
    "data: train on the past, hold out the future, and leave an "
    "EMBARGO gap so horizon-h labels computed near the boundary "
    "cannot straddle it; x84 audits ENTITY leakage across random "
    "splits, this is the TEMPORAL counterpart). Cut points derive "
    "from exact integer date arithmetic — train = first 70% of the "
    "day span (integer 7*span//10, no float days), embargo = the "
    "next 30 days — so the assignment is reproducible from the data "
    "alone. Output per split: counts, distinct customers, actual "
    "date bounds (certifying the embargo window is EMPTY of train/"
    "test rows by construction), the share (one division, rounded "
    "once), and the train-AND-test shared-customer count (an "
    "INTERSECT of two key projections) — the number an entity-aware "
    "splitter would drive to zero. Scale: two scans (one for the "
    "span scalars, one tagged aggregate) + key-projection set ops; "
    "everything shuffles on custkey or split only.",
)
def x197(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    dmin, dmax = orders.agg(
        F.min("o_orderdate"), F.max("o_orderdate")
    ).collect()[0]
    span = (dmax - dmin).days
    d_train = F.date_add(F.lit(dmin), (7 * span) // 10)
    d_embargo = F.date_add(F.lit(dmin), (7 * span) // 10 + 30)
    tagged = orders.select(
        F.when(F.col("o_orderdate") <= d_train, "train")
        .when(F.col("o_orderdate") <= d_embargo, "embargo")
        .otherwise("test")
        .alias("split"),
        "o_custkey",
        "o_orderdate",
    )
    shared = (
        tagged.where(F.col("split") == "train")
        .select("o_custkey")
        .intersect(
            tagged.where(F.col("split") == "test").select("o_custkey")
        )
        .count()
    )
    return (
        tagged.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_custkey").cast("bigint").alias("n_custkeys"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
        .withColumn(
            # the order total is the sum of the 3-row aggregate itself
            # (r13): a scalar window over the grouped frame replaces a
            # separate full count() scan of orders — same double math
            "share",
            F.round(
                F.col("n_orders").cast("double")
                / F.sum("n_orders").over(Window.partitionBy()).cast(
                    "double"
                )
                + F.lit(0.0),
                6,
            ),
        )
        .withColumn(
            "n_shared_custkeys", F.lit(shared).cast("bigint")
        )
        .orderBy("split")
    )


@_q(
    "x198_sql_variables",
    """WITH thr AS (
         SELECT CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                     / COUNT(*) AS BIGINT) AS t
         FROM orders
       )
       SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice * 100, 0)
                                      AS BIGINT) > thr.t
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
              ROUND(CAST(SUM(CASE WHEN CAST(ROUND(o_totalprice * 100, 0)
                                           AS BIGINT) > thr.t
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE) + 0.0, 6) AS share_above
       FROM orders, thr GROUP BY o_orderpriority, thr.t
       ORDER BY o_orderpriority""",
    doc="SQL session VARIABLES + IDENTIFIER() dynamic name resolution "
    "certified (the Spark 4 scripting surface, like x179's pipe "
    "syntax): the ENGINE DECLAREs a typed session variable, SETs it "
    "from a scalar subquery (the exact integer mean-cents threshold "
    "— BIGINT floor division, no float), registers the fact table "
    "under a dynamic view name resolved via IDENTIFIER(:view "
    "variable), and answers the above-threshold rollup with BOTH "
    "variables live in one spark.sql text — then DROPs them. The "
    "ORACLE inlines the same threshold as a CTE (ANSI form), so any "
    "divergence in variable binding, scoping or the dynamic name "
    "resolution breaks counts. Plan-wise Catalyst constant-folds the "
    "variable reference — the physical plan is identical to the "
    "literal query (zero overhead at 100 TB); the threshold subquery "
    "is one scalar aggregate pass. Exact ints until the one share "
    "division, rounded at 6.",
)
def x198(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    orders.createOrReplaceTempView("x198_orders_v")
    try:
        spark.sql(
            "DECLARE OR REPLACE VARIABLE x198_thr BIGINT DEFAULT 0"
        )
        spark.sql(
            "DECLARE OR REPLACE VARIABLE x198_view STRING "
            "DEFAULT 'x198_orders_v'"
        )
        spark.sql(
            "SET VARIABLE x198_thr = "
            "(SELECT CAST(SUM(cents) / COUNT(*) AS BIGINT) "
            "FROM IDENTIFIER(x198_view))"
        )
        out = spark.sql(
            """SELECT o_orderpriority,
                      CAST(COUNT(*) AS BIGINT) AS n_orders,
                      CAST(SUM(CASE WHEN cents > x198_thr
                                    THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_above,
                      ROUND(CAST(SUM(CASE WHEN cents > x198_thr
                                          THEN 1 ELSE 0 END) AS DOUBLE)
                            / CAST(COUNT(*) AS DOUBLE) + 0.0, 6)
                        AS share_above
               FROM IDENTIFIER(x198_view)
               GROUP BY o_orderpriority
               ORDER BY o_orderpriority"""
        )
        # materialize before dropping the variables/view the plan binds
        rows = [
            (
                r["o_orderpriority"],
                r["n_orders"],
                r["n_above"],
                r["share_above"],
            )
            for r in out.collect()
        ]
    finally:
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS x198_thr")
        spark.sql("DROP TEMPORARY VARIABLE IF EXISTS x198_view")
        spark.catalog.dropTempView("x198_orders_v")
    return local_frame(
        spark, rows,
        "o_orderpriority STRING, n_orders BIGINT, n_above BIGINT, "
        "share_above DOUBLE",
    ).orderBy("o_orderpriority")


@_q(
    "x199_fd_histogram",
    """WITH vals AS (
         SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders
       ),
       ordered AS (
         SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
                COUNT(*) OVER () AS n
         FROM vals
       ),
       q AS (
         SELECT MAX(CASE WHEN rn = (25 * n + 99) // 100
                         THEN cents END) AS q1,
                MAX(CASE WHEN rn = (75 * n + 99) // 100
                         THEN cents END) AS q3,
                MAX(n) AS n, MIN(cents) AS cmin
         FROM ordered
       ),
       w AS (
         SELECT GREATEST(CAST(1 AS BIGINT),
                         CAST(ROUND(2.0 * CAST(q3 - q1 AS DOUBLE)
                                    / CBRT(CAST(n AS DOUBLE)), 0)
                              AS BIGINT)) AS bw,
                cmin, n
         FROM q
       )
       SELECT (v.cents - w.cmin) // w.bw AS bin,
              CAST(w.cmin + ((v.cents - w.cmin) // w.bw) * w.bw
                   AS BIGINT) AS lo_cents,
              w.bw AS bin_width,
              CAST(COUNT(*) AS BIGINT) AS n_rows
       FROM vals v, w
       GROUP BY 1, 2, 3 ORDER BY bin LIMIT 30""",
    doc="Freedman-Diaconis equi-width histogram profile of the order-"
    "value distribution — the auto-binned distribution sketch a data "
    "profiler ships (bin width 2*IQR/cbrt(n), the robust rule that "
    "neither over-smooths skewed corpora like Sturges nor explodes "
    "on outliers): exact type-1 quartiles feed an integer bin width, "
    "then ONE grouped count per bin. The ENGINE computes the exact "
    "quartiles scale-safely — a value HISTOGRAM plus the distributed "
    "two-phase prefix scan (grouped_cumsum over the near-unique "
    "cents domain; NO single-task global window however many rows), "
    "then the smallest value whose cumulative count reaches the "
    "integer ceil-rank (25n+99)//100 — while the ORACLE uses the "
    "literal order-statistics definition (global ROW_NUMBER over all "
    "rows), two independent algorithms agreeing on the same exact "
    "integers. Bin ids are pure BIGINT arithmetic ((cents-min) div "
    "width); the float appears only inside the rounded-once width "
    "(cbrt of an exact count, one IEEE expression both engines "
    "evaluate identically). Output: first 30 bins. The one BNLJ is "
    "the bin-parameter attach: a crossJoin against a 1-row literal-"
    "built frame (bounded by construction — r14 moved the parameter "
    "derivation driver-side so the threshold broadcasts stopped "
    "re-executing the histogram).",
    bnlj_bounded=1,
)
def x199(spark: SparkSession, sf_dir: str) -> DataFrame:
    from deepcell_data_engineering_spark.functions.layout import (
        grouped_cumsum,
    )

    vals = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        )
    )
    hist = vals.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = grouped_cumsum(hist, [], "cents", ["c"])
    # The tot -> q1/q3 -> params chain previously nested FOUR broadcast
    # subtrees, and broadcast subtrees escape AQE shuffle-stage reuse
    # (the r13 x103 lesson) — the executed plan re-ran the histogram
    # per consumer: 10 orders scans for one query. Now two dedicated
    # scalar actions (each exact longs, lossless through the driver)
    # and the bin parameters rebuilt from literals: scan totals + both
    # quartiles in ONE conditional aggregate over the shared cum; the
    # IEEE width expression is unchanged SQL (round/cbrt over the same
    # doubles — constant-folded once), so bins are bit-identical.
    _t = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.min("cents").alias("cmin"),
    ).collect()[0]
    _n, _cmin = int(_t["n"]), int(_t["cmin"])
    _q = cum.agg(
        F.min(
            F.when(
                F.col("cum_c") >= F.lit((25 * _n + 99) // 100), F.col("cents")
            )
        ).alias("q1"),
        F.min(
            F.when(
                F.col("cum_c") >= F.lit((75 * _n + 99) // 100), F.col("cents")
            )
        ).alias("q3"),
    ).collect()[0]
    params = local_frame(
        spark, [(_cmin, _n, int(_q["q1"]), int(_q["q3"]))],
        "cmin LONG, n LONG, q1 LONG, q3 LONG",
    ).select(
        "cmin",
        "n",
        F.greatest(
            F.lit(1).cast("bigint"),
            F.round(
                F.lit(2.0)
                * (F.col("q3") - F.col("q1")).cast("double")
                / F.cbrt(F.col("n").cast("double")),
                0,
            ).cast("bigint"),
        ).alias("bw"),
    )
    binned = vals.crossJoin(F.broadcast(params)).select(
        F.expr("(cents - cmin) div bw").alias("bin"),
        F.expr("cmin + ((cents - cmin) div bw) * bw")
        .cast("bigint")
        .alias("lo_cents"),
        F.col("bw").alias("bin_width"),
    )
    return (
        binned.groupBy("bin", "lo_cents", "bin_width")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .orderBy("bin")
        .limit(30)
    )


@_q(
    "x200_update_feed_view",
    """WITH base AS (SELECT o_orderkey AS k, o_orderpriority AS p,
                            CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                              AS cents
                     FROM orders),
       fin AS (SELECT p,
                      CASE WHEN k % 97 = 3 THEN cents + 500
                           ELSE cents END AS cents,
                      CASE WHEN k % 97 = 3 THEN 1 ELSE 0 END AS u
               FROM base)
       SELECT p AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST(SUM(u) AS BIGINT) AS n_updated
       FROM fin GROUP BY 1 ORDER BY 1""",
    doc="The UPDATE verb certified end to end (snapshots.py:"
    "update_where — the fourth DML leg beside x151's MERGE, x162's "
    "DELETE and the append/overwrite INSERTs): the ENGINE commits "
    "the orders facts as a banded 2-dir snapshot table and runs ONE "
    "UPDATE (SET cents = cents + 500 WHERE k % 97 = 3 — the SET "
    "expression reads the row's CURRENT value, the property that "
    "separates UPDATE from a blind overwrite), then certifies BOTH "
    "surfaces: the final snapshot aggregate against the oracle's "
    "CASE rebuild from raw orders, and per-priority n_updated "
    "folded from the commit's persisted update_postimage feed rows "
    "against the oracle's literal k%97=3 count. Copy-on-write at "
    "directory granularity (only dirs containing a match rewrite; "
    "survivors + postimages land in one new dir, stats recomputed); "
    "predicate AND set expressions each pinned to one evaluation "
    "(the delete_where determinism rule). Lakehouse-certification "
    "tier.",
)
def x200(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    mid = mk // 2
    root = tempfile.mkdtemp(prefix="dde_update_")
    try:
        t = f"{root}/t"
        snap.commit(spark, base.where(F.col("k") <= mid), t,
                    stats_cols=["k"])
        v1 = snap.commit(
            spark,
            base.where(F.col("k") > mid),
            t,
            mode="append",
            stats_cols=["k"],
        )
        v2 = snap.update_where(
            spark, t, "k % 97 = 3", {"cents": "cents + 500"}
        )
        upd = (
            snap.read_changes(spark, t, v1, v2)
            .where(F.col("_change_subtype") == "update_postimage")
            .groupBy("p")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_updated"))
        )
        agg = (
            snap.read_snapshot(spark, t, v2)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (
                r["p"],
                r["n_orders"],
                r["sum_cents"],
                r["n_updated"] if r["n_updated"] is not None else 0,
            )
            for r in agg.join(upd, "p", "left").collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_frame(
        spark, rows,
        "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT, "
        "n_updated BIGINT",
    ).orderBy("o_orderpriority")


@_q(
    "x201_constraint_gate",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents,
              CAST(2 AS BIGINT) AS n_blocked_writes,
              CAST(2 AS BIGINT) AS n_constraints
       FROM orders GROUP BY 1 ORDER BY 1""",
    doc="Table-level CHECK constraints certified end to end "
    "(snapshots.py:commit(check_constraints=...) — Delta's ALTER "
    "TABLE ADD CONSTRAINT as table state: stored in the manifest, "
    "carried forward by every commit, enforced on every data-writing "
    "path; x123 REPORTS expectation violations, this BLOCKS them at "
    "the write): the ENGINE creates the orders snapshot table with "
    "two constraints (cents >= 0, priority IS NOT NULL), lands a "
    "clean second append, then attempts a violating APPEND (negative "
    "cents) and a violating UPDATE (a SET that would drive cents "
    "negative) — both must raise ConstraintViolationError naming the "
    "constraint, leaving NO trace in the table (the blocked data dir "
    "is an orphan the next vacuum sweeps; the manifest log never "
    "references it). The final aggregate must equal the oracle's "
    "plain orders rollup — any leaked violating row breaks sums — "
    "and n_blocked_writes/n_constraints ride as oracle-pinned "
    "literals. Enforcement is ONE extra aggregate pass per write "
    "(all constraints folded into a single agg), nothing at read "
    "time. Lakehouse-certification tier.",
)
def x201(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("p"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    mk = int(base.agg(F.max("k")).collect()[0][0])
    mid = mk // 2
    root = tempfile.mkdtemp(prefix="dde_constraints_")
    blocked = 0
    try:
        t = f"{root}/t"
        snap.commit(
            spark,
            base.where(F.col("k") <= mid),
            t,
            check_constraints={
                "cents_nonneg": "cents >= 0",
                "priority_known": "p IS NOT NULL",
            },
        )
        snap.commit(
            spark, base.where(F.col("k") > mid), t, mode="append"
        )
        try:
            snap.commit(
                spark,
                base.limit(5).withColumn(
                    "cents", F.col("cents") - F.lit(10**12)
                ),
                t,
                mode="append",
            )
        except snap.ConstraintViolationError:
            blocked += 1
        try:
            snap.update_where(
                spark,
                t,
                "k % 1000 = 1",
                {"cents": "cents - 1000000000000"},
            )
        except snap.ConstraintViolationError:
            blocked += 1
        n_constraints = len(
            snap._load_manifest(
                t, snap.current_version(t), snap._POSIX
            ).get("constraints", {})
        )
        agg = (
            snap.read_snapshot(spark, t)
            .groupBy("p")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (r["p"], r["n_orders"], r["sum_cents"]) for r in agg.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_orders BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_blocked_writes", F.lit(blocked).cast("bigint"))
        .withColumn(
            "n_constraints", F.lit(n_constraints).cast("bigint")
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "x202_constraint_lifecycle",
    """WITH base AS (
         SELECT c_custkey AS k, c_mktsegment AS seg,
                CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
         FROM customer
       ),
       extra AS (
         SELECT k + 1000000 AS k, seg, ABS(cents) AS cents
         FROM base WHERE k <= 10
       ),
       zomb AS (
         SELECT CAST(9999999 AS BIGINT) AS k, 'ZOMBIE' AS seg,
                CAST(-1000000000000 AS BIGINT) AS cents
       ),
       allr AS (
         SELECT * FROM base
         UNION ALL SELECT * FROM extra
         UNION ALL SELECT * FROM zomb
       )
       SELECT seg AS c_mktsegment,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST(1 AS BIGINT) AS blocked_adds,
              CAST(2 AS BIGINT) AS n_meta_ops,
              CAST(4 AS BIGINT) AS final_version
       FROM allr GROUP BY 1 ORDER BY 1""",
    doc="ALTER-style constraint lifecycle certified end to end "
    "(snapshots.py:add_constraint/drop_constraint — r12 verdict #4: "
    "x201 certifies write-time enforcement, this certifies the "
    "LIFECYCLE verbs): the engine creates the customer snapshot "
    "(negative balances exist), ADDs a holding floor constraint as a "
    "METADATA-ONLY commit (dir list = parent's, validated against "
    "the EXISTING rows in one folded aggregate — Delta's ALTER TABLE "
    "ADD CONSTRAINT contract), then attempts to ADD 'cents >= 0' "
    "which the existing data violates — refused with per-constraint "
    "counts, publishing NOTHING (blocked_adds=1, version unmoved) — "
    "appends a clean batch under enforcement, DROPs the floor, and "
    "proves the drop by appending a row the old rule forbids "
    "(the ZOMBIE segment row). Final rollup must equal the oracle's "
    "static reconstruction; n_meta_ops pins that exactly two "
    "metadata-only commits (add, drop) entered the log. Lakehouse-"
    "certification tier (tempdir commits, <=6-row driver folds).",
)
def x202(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.col("c_mktsegment").alias("seg"),
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="dde_constraint_lifecycle_")
    blocked = 0
    try:
        t = f"{root}/t"
        snap.commit(spark, base, t, mode="overwrite")                 # v0
        snap.add_constraint(spark, t, "bal_floor", "cents >= -100000")  # v1
        try:
            snap.add_constraint(spark, t, "bal_nonneg", "cents >= 0")
        except snap.ConstraintViolationError:
            blocked += 1  # existing rows violate: refused, nothing published
        extra = base.where(F.col("k") <= 10).select(
            (F.col("k") + F.lit(1000000)).alias("k"),
            "seg",
            F.abs(F.col("cents")).alias("cents"),
        )
        snap.commit(spark, extra, t, mode="append")                   # v2
        snap.drop_constraint(spark, t, "bal_floor")                   # v3
        zomb = local_frame(
            spark, [(9999999, "ZOMBIE", -(10**12))], "k bigint, seg string, cents bigint"
        )
        snap.commit(spark, zomb, t, mode="append")                    # v4
        hist = snap.history(t)
        n_meta = sum(
            1 for h in hist if h["op"] in ("add_constraint", "drop_constraint")
        )
        final_version = hist[-1]["version"]
        agg = (
            snap.read_snapshot(spark, t)
            .groupBy("seg")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [(r["seg"], r["n_rows"], r["sum_cents"]) for r in agg.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "c_mktsegment STRING, n_rows BIGINT, sum_cents BIGINT"
        )
        .withColumn("blocked_adds", F.lit(blocked).cast("bigint"))
        .withColumn("n_meta_ops", F.lit(n_meta).cast("bigint"))
        .withColumn("final_version", F.lit(final_version).cast("bigint"))
        .orderBy("c_mktsegment")
    )


@_q(
    "x203_stream_rate_feed",
    """SELECT CAST(0 AS BIGINT) AS commit_version,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              TRUE AS bounded_drain
       FROM nation
       UNION ALL
       SELECT CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT), TRUE FROM nation
       UNION ALL
       SELECT CAST(3 AS BIGINT), CAST(1 AS BIGINT), TRUE
       ORDER BY commit_version""",
    doc="The snapshot-log STREAMING source certified end to end under "
    "RATE CONTROL (streaming/snapshot_source.py — r12 verdict #5): "
    "the engine commits v0 (overwrite create, 4 files — streamed as "
    "the starting snapshot, the r12-ADVICE initial-load posture), v1 "
    "(append, 3 files), v2 (delete — ships nothing) and v3 (update — "
    "ships the postimage), then drains the table through "
    "readStream.format('snapshot_stream') with max_files_per_batch=2 "
    "under a processing trigger: offsets are (version, file-index) "
    "pairs that split commits MID-FILE-LIST, so the 7-data-file "
    "backlog must arrive across >= 4 bounded micro-batches "
    "(bounded_drain pins it) with exactly-once totals. The per-"
    "_commit_version row counts must equal the oracle's static "
    "reconstruction — a duplicated or dropped file breaks them. "
    "Delete versions contribute no rows by design (this source "
    "streams arrivals; folds consume read_changes). Streaming-"
    "certification tier (tempdir commits, bounded drain).",
)
def x203(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile
    import time as _time

    from deepcell_data_engineering_spark.sources import snapshots as snap
    from deepcell_data_engineering_spark.streaming import snapshot_source

    snapshot_source.register(spark)
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").cast("bigint").alias("key"),
        F.col("n_name").alias("name"),
    )
    n_nat = nat.count()
    root = tempfile.mkdtemp(prefix="dde_stream_rate_")
    got: list[tuple[int, int]] = []
    nonempty = 0
    try:
        t = f"{root}/t"
        snap.commit(spark, nat.repartition(4), t, mode="overwrite")   # v0
        snap.commit(
            spark,
            nat.select((F.col("key") + F.lit(100)).alias("key"), "name")
            .repartition(3),
            t,
            mode="append",
        )                                                             # v1
        snap.delete_where(spark, t, "key % 25 = 3")                   # v2
        snap.update_where(spark, t, "key = 5", {"name": "'PATCHED'"})  # v3

        rows_seen: dict[int, int] = {}

        def sink(bdf, bid):
            nonlocal nonempty
            pairs = (
                bdf.groupBy("_commit_version").count().collect()
            )
            if pairs:
                nonempty += 1
            for r in pairs:
                v = int(r["_commit_version"])
                rows_seen[v] = rows_seen.get(v, 0) + int(r["count"])

        expected = n_nat + n_nat + 1
        q = (
            spark.readStream.format("snapshot_stream")
            .option("path", t)
            .option("max_files_per_batch", "2")
            .load()
            .writeStream.foreachBatch(sink)
            # measured: busy batches retrigger immediately at this
            # cadence, so a shorter interval only spins empty batches
            # after the drain (isolated A/B: 20 ms was SLOWER); the
            # tight 50 ms poll below is where completion latency went
            .trigger(processingTime="200 milliseconds")
            .option("checkpointLocation", f"{root}/ckpt")
            .start()
        )
        deadline = _time.time() + 120
        try:
            while (
                _time.time() < deadline
                and sum(rows_seen.values()) < expected
            ):
                _time.sleep(0.05)
        finally:
            q.stop()
            q.awaitTermination(30)
        got = sorted(rows_seen.items())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    bounded = nonempty >= 4
    return local_frame(
        spark, [(v, n, bounded) for v, n in got],
        "commit_version BIGINT, n_rows BIGINT, bounded_drain BOOLEAN",
    ).orderBy("commit_version")


@_q(
    "x204_kaplan_meier",
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
       pu AS (SELECT user_id, MIN(d) AS f, MAX(d) AS l
              FROM ev GROUP BY 1),
       md AS (SELECT MAX(l) AS m FROM pu),
       dur AS (SELECT date_diff('day', f, l) AS t,
                      CASE WHEN date_diff('day', l, m) >= 5
                           THEN 1 ELSE 0 END AS e
               FROM pu, md),
       g AS (SELECT t, SUM(e) AS d, SUM(1 - e) AS c
             FROM dur GROUP BY 1),
       k AS (SELECT t, d, c,
                    (SELECT COUNT(*) FROM dur)
                    - COALESCE(SUM(d + c) OVER (
                        ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS n
             FROM g)
       SELECT CAST(t AS BIGINT) AS t_days,
              CAST(n AS BIGINT) AS n_risk,
              CAST(d AS BIGINT) AS d_events,
              CAST(c AS BIGINT) AS c_censored,
              ROUND(PRODUCT(1.0 - d * 1.0 / n) OVER (ORDER BY t)
                    + 0.0, 6) AS survival
       FROM k ORDER BY t_days""",
    doc="Kaplan-Meier survival estimator over user activity lifetimes "
    "(events): per user T = days between first and last event, an "
    "observed CHURN EVENT iff the last event predates the corpus "
    "horizon by >= 5 days (otherwise right-censored at T — the user "
    "was still active when observation ended), then the product-limit "
    "curve S(t) = prod_{t_i<=t} (1 - d_i/n_i) over the DISTINCT "
    "event-time grid with the risk set n_i folded from cumulative "
    "exits. The survival-analysis primitive behind retention/'how "
    "long does a contributor stay' questions, done censoring-"
    "correctly (naive averages of observed lifetimes are biased low). "
    "Scale: one per-user aggregate, then every window runs on the "
    "<=|distinct T| aggregate grid (the r12 window contract). The "
    "engine takes exp(sum(ln(1-d/n))) while the oracle takes DuckDB's "
    "windowed PRODUCT — two algebraically equal but different "
    "computations agreeing at the 1e-6 rounding grain; d_i, c_i, n_i "
    "are exact integers.",
)
def x204(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    pu = ev.groupBy("user_id").agg(
        F.min("d").alias("f"), F.max("d").alias("l")
    )
    wall = Window.partitionBy()
    dur = pu.select(
        F.datediff("l", "f").alias("t"),
        F.when(
            F.datediff(F.max("l").over(wall), F.col("l")) >= 5, 1
        )
        .otherwise(0)
        .alias("e"),
    )
    g = dur.groupBy("t").agg(
        F.sum("e").alias("d"), F.sum(F.lit(1) - F.col("e")).alias("c")
    )
    wexit = (
        Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wcum = Window.orderBy("t")
    k = g.select(
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(wexit), F.lit(0)
            )
        ).alias("n"),
    )
    return k.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.lit(1.0)
                        - F.col("d").cast("double") / F.col("n").cast("double")
                    )
                ).over(wcum)
            )
            + F.lit(0.0),
            6,
        ).alias("survival"),
    ).orderBy("t_days")


@_q(
    "x205_mutual_information",
    """WITH cells AS (
         SELECT c_mktsegment AS x, n_name AS y, COUNT(*) AS n
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         GROUP BY 1, 2
       ),
       m AS (
         SELECT x, y, n,
                SUM(n) OVER (PARTITION BY x) AS nx,
                SUM(n) OVER (PARTITION BY y) AS ny,
                SUM(n) OVER () AS nt
         FROM cells
       )
       SELECT CAST(MAX(nt) AS BIGINT) AS n_total,
              CAST(COUNT(DISTINCT x) AS BIGINT) AS n_x,
              CAST(COUNT(DISTINCT y) AS BIGINT) AS n_y,
              ROUND(SUM((n * 1.0 / nt)
                        * LN((n * nt) * 1.0 / (nx * ny))) + 0.0, 6)
                AS mi_nats,
              ROUND(SUM(((n * nt - nx * ny) * 1.0)
                        * ((n * nt - nx * ny) * 1.0)
                        / (nt * 1.0 * nx * ny)) + 0.0, 4) AS chi2,
              ROUND(SQRT(SUM(((n * nt - nx * ny) * 1.0)
                             * ((n * nt - nx * ny) * 1.0)
                             / (nt * 1.0 * nx * ny))
                         / (MAX(nt)
                            * (LEAST(COUNT(DISTINCT x),
                                     COUNT(DISTINCT y)) - 1)))
                    + 0.0, 6) AS cramers_v
       FROM m""",
    doc="Mutual information + chi-squared + Cramer's V between two "
    "categorical columns (customer.mktsegment x nation.name through "
    "the broadcast dim join) — the dependence screen a feature-"
    "selection / leakage audit runs over candidate columns: MI in "
    "nats from the exact contingency counts, the chi-squared "
    "statistic in its all-integer-numerator form "
    "(n*N - nx*ny)^2 / (N*nx*ny) (one float division per cell, no "
    "float expectation matrix), and the effect size normalized to "
    "[0,1] as V = sqrt(chi2 / (N * (min(r,c)-1))) so it is "
    "comparable across table shapes (x157 audits PER-CELL pointwise "
    "terms of the documents (lang, source) pair and x169 reports "
    "per-value chi-squared screens; this is the single-number "
    "whole-matrix summary over the dim-joined customer geography). Margins ride windows PARTITIONED "
    "over the <=|x|*|y| aggregate grid; only exact BIGINTs enter "
    "every product.",
)
def x205(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    cells = (
        cust.join(
            F.broadcast(nat),
            cust.c_nationkey == nat.n_nationkey,
        )
        .groupBy(
            F.col("c_mktsegment").alias("x"), F.col("n_name").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    m = cells.select(
        "x",
        "y",
        "n",
        F.sum("n").over(Window.partitionBy("x")).alias("nx"),
        F.sum("n").over(Window.partitionBy("y")).alias("ny"),
        F.sum("n").over(Window.partitionBy()).alias("nt"),
    )
    chi_term = (
        (F.col("n") * F.col("nt") - F.col("nx") * F.col("ny")).cast("double")
        * (F.col("n") * F.col("nt") - F.col("nx") * F.col("ny")).cast("double")
        / (
            F.col("nt").cast("double")
            * F.col("nx").cast("double")
            * F.col("ny").cast("double")
        )
    )
    return m.agg(
        F.max("nt").cast("bigint").alias("n_total"),
        F.countDistinct("x").cast("bigint").alias("n_x"),
        F.countDistinct("y").cast("bigint").alias("n_y"),
        F.round(
            F.sum(
                (F.col("n").cast("double") / F.col("nt").cast("double"))
                * F.log(
                    (F.col("n") * F.col("nt")).cast("double")
                    / (F.col("nx") * F.col("ny")).cast("double")
                )
            )
            + F.lit(0.0),
            6,
        ).alias("mi_nats"),
        F.round(F.sum(chi_term) + F.lit(0.0), 4).alias("chi2"),
        F.round(
            F.sqrt(
                F.sum(chi_term)
                / (
                    F.max("nt").cast("double")
                    * (
                        F.least(
                            F.countDistinct("x"), F.countDistinct("y")
                        ).cast("double")
                        - F.lit(1.0)
                    )
                )
            )
            + F.lit(0.0),
            6,
        ).alias("cramers_v"),
    )


@_q(
    "x206_zipf_slope",
    """WITH tok AS (
         SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
                  AS term
         FROM documents
       ),
       tc AS (SELECT term, COUNT(*) AS cnt FROM tok
              WHERE term <> '' GROUP BY 1),
       rk AS (SELECT cnt,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS r
              FROM tc)
       SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
              ROUND(regr_slope(LN(cnt), LN(r)) + 0.0, 4) AS slope,
              ROUND(regr_intercept(LN(cnt), LN(r)) + 0.0, 4)
                AS intercept,
              ROUND(regr_r2(LN(cnt), LN(r)) + 0.0, 4) AS r2
       FROM rk WHERE r <= 200""",
    doc="Zipf's-law fit of the corpus unigram distribution: OLS of "
    "ln(frequency) on ln(rank) over the top-200 vocabulary — the "
    "text-corpus health probe (natural corpora fit slope ~ -1; "
    "templated/synthetic corpora bend the line, so slope + R^2 "
    "together flag generation artifacts before training). Rank is "
    "assigned by a window over the AGGREGATED vocabulary (never the "
    "token stream; the r12 window contract) with (count desc, term) "
    "total order for cross-engine determinism. The ENGINE computes "
    "the closed-form normal equations from one aggregate of "
    "(x, y, xy, xx, yy) sums; the ORACLE uses DuckDB's independent "
    "regr_slope/regr_intercept/regr_r2 built-ins — two different "
    "least-squares implementations agreeing at the 1e-4 grain.",
)
def x206(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        tx.tokens(docs)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rk = tc.select(
        "cnt",
        F.row_number()
        .over(Window.orderBy(F.desc("cnt"), "term"))
        .alias("r"),
    ).where(F.col("r") <= 200)
    pts = rk.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    r2 = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    ) / (
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope + F.lit(0.0), 4).alias("slope"),
        F.round(intercept + F.lit(0.0), 4).alias("intercept"),
        F.round(r2 + F.lit(0.0), 4).alias("r2"),
    )


@_q(
    "x207_rfm_segments",
    """WITH o AS (
         SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS d,
                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders
       ),
       pc AS (
         SELECT k, MAX(d) AS last_d, COUNT(*) AS f,
                SUM(cents) AS m
         FROM o GROUP BY 1
       ),
       sc AS (
         SELECT k, f, m,
                date_diff('day', last_d, MAX(last_d) OVER ()) AS r_days
         FROM pc
       ),
       q AS (
         SELECT k, f, m,
                NTILE(4) OVER (ORDER BY r_days, k) AS rq,
                NTILE(4) OVER (ORDER BY f DESC, k) AS fq,
                NTILE(4) OVER (ORDER BY m DESC, k) AS mq
         FROM sc
       )
       SELECT CAST(rq * 100 + fq * 10 + mq AS BIGINT) AS segment,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(SUM(m) AS BIGINT) AS sum_cents,
              ROUND(SUM(m) * 1.0 / COUNT(*) + 0.0, 2)
                AS avg_monetary_cents
       FROM q GROUP BY 1 ORDER BY segment""",
    doc="RFM customer segmentation (recency / frequency / monetary "
    "quartiles) over orders — the canonical audience-quality rollup: "
    "per customer R = days since last order vs the corpus horizon, "
    "F = order count, M = lifetime cents, each quartiled by NTILE(4) "
    "with a (metric, custkey) TOTAL order so tile assignment is "
    "deterministic and engine-independent (NTILE's floor-division "
    "distribution is SQL-standard in both engines), folded into the "
    "3-digit RFM segment code. All three NTILEs run over the per-"
    "customer AGGREGATE (<=|customers| rows — the r12 window "
    "contract), not the order stream; money stays exact BIGINT cents "
    "until the one rounded average per segment.",
)
def x207(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        F.to_date("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    pc = o.groupBy("k").agg(
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("f"),
        F.sum("cents").alias("m"),
    )
    sc = pc.select(
        "k",
        "f",
        "m",
        F.datediff(
            F.max("last_d").over(Window.partitionBy()), F.col("last_d")
        ).alias("r_days"),
    )
    q = sc.select(
        "k",
        "f",
        "m",
        F.ntile(4).over(Window.orderBy("r_days", "k")).alias("rq"),
        F.ntile(4).over(Window.orderBy(F.desc("f"), "k")).alias("fq"),
        F.ntile(4).over(Window.orderBy(F.desc("m"), "k")).alias("mq"),
    )
    return (
        q.groupBy(
            (
                F.col("rq") * 100 + F.col("fq") * 10 + F.col("mq")
            ).cast("bigint").alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("m").cast("bigint").alias("sum_cents"),
            F.round(
                F.sum("m") * F.lit(1.0) / F.count(F.lit(1)) + F.lit(0.0), 2
            ).alias("avg_monetary_cents"),
        )
        .orderBy("segment")
    )


@_q(
    "x208_cohort_retention",
    """WITH o AS (
         SELECT o_custkey AS k,
                CAST(year(o_orderdate) * 12
                     + (month(o_orderdate) - 1) AS BIGINT) AS m
         FROM orders
       ),
       firstm AS (SELECT k, MIN(m) AS cm FROM o GROUP BY 1),
       base AS (SELECT MIN(cm) AS m0 FROM firstm),
       act AS (SELECT DISTINCT o.k, f.cm, o.m - f.cm AS off
               FROM o JOIN firstm f ON o.k = f.k, base
               WHERE f.cm <= base.m0 + 5 AND o.m - f.cm <= 5),
       size_ AS (SELECT cm, COUNT(DISTINCT k) AS n0
                 FROM firstm, base
                 WHERE cm <= base.m0 + 5 GROUP BY cm)
       SELECT CAST(a.cm // 12 AS BIGINT) AS cohort_year,
              CAST(a.cm % 12 + 1 AS BIGINT) AS cohort_month,
              CAST(a.off AS BIGINT) AS months_since,
              CAST(COUNT(DISTINCT a.k) AS BIGINT) AS n_active,
              CAST(s.n0 AS BIGINT) AS cohort_size,
              CAST((1000 * COUNT(DISTINCT a.k)) // s.n0 AS BIGINT)
                AS retention_permille
       FROM act a JOIN size_ s ON a.cm = s.cm
       GROUP BY a.cm, a.off, s.n0
       ORDER BY cohort_year, cohort_month, months_since""",
    doc="Cohort retention matrix over orders — the standard "
    "acquisition-quality readout: customers are cohorted by their "
    "FIRST order month, and for each of the first 6 cohorts x month "
    "offsets 0..5 the share still ordering is reported as an exact "
    "integer permille ((1000*active) div cohort_size — integer "
    "division on both engines, no float rounding seam). Scale shape: "
    "one per-customer first-month aggregate broadcast back onto the "
    "order-month activity set (distinct month grain), grouped counts "
    "— no windows, no per-row state; the cohort filter rides the "
    "aggregate, so the matrix is bounded however large the fact "
    "table.",
)
def x208(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("k"),
        (
            F.year("o_orderdate") * 12 + (F.month("o_orderdate") - 1)
        ).cast("bigint").alias("m"),
    )
    firstm = o.groupBy("k").agg(F.min("m").alias("cm"))
    m0 = firstm.agg(F.min("cm").alias("m0"))
    fm = (
        firstm.join(F.broadcast(m0))
        .where(F.col("cm") <= F.col("m0") + 5)
        .select("k", "cm")
    )
    act = (
        o.join(fm, "k")
        .where(F.col("m") - F.col("cm") <= 5)
        .select("k", "cm", (F.col("m") - F.col("cm")).alias("off"))
        .distinct()
    )
    size_ = fm.groupBy("cm").agg(F.countDistinct("k").alias("n0"))
    return (
        act.groupBy("cm", "off")
        .agg(F.countDistinct("k").alias("n_active"))
        .join(F.broadcast(size_), "cm")
        .select(
            (F.col("cm") / 12).cast("bigint").alias("cohort_year"),
            (F.col("cm") % 12 + 1).cast("bigint").alias("cohort_month"),
            F.col("off").cast("bigint").alias("months_since"),
            F.col("n_active").cast("bigint").alias("n_active"),
            F.col("n0").cast("bigint").alias("cohort_size"),
            F.floor((1000 * F.col("n_active")) / F.col("n0"))
            .cast("bigint")
            .alias("retention_permille"),
        )
        .orderBy("cohort_year", "cohort_month", "months_since")
    )


@_q(
    "x209_key_skew_audit",
    """WITH keys AS (
         SELECT 'l_partkey' AS col, l_partkey AS k FROM lineitem
         UNION ALL
         SELECT 'l_suppkey' AS col, l_suppkey AS k FROM lineitem
       ),
       kc AS (SELECT col, k, COUNT(*) AS c FROM keys GROUP BY 1, 2),
       st AS (SELECT col, SUM(c) AS n_rows, COUNT(*) AS n_keys,
                     MAX(c) AS max_c
              FROM kc GROUP BY 1),
       rk AS (SELECT col, c,
                     ROW_NUMBER() OVER (PARTITION BY col ORDER BY c)
                       AS rn
              FROM kc),
       p99 AS (SELECT rk.col, MIN(c) AS p99_size
               FROM rk JOIN st ON rk.col = st.col
               WHERE rn >= (99 * n_keys + 99) // 100
               GROUP BY 1)
       SELECT st.col AS key_col,
              CAST(n_rows AS BIGINT) AS n_rows,
              CAST(n_keys AS BIGINT) AS n_keys,
              CAST(max_c AS BIGINT) AS max_group,
              CAST(p99_size AS BIGINT) AS p99_group,
              CAST((1000 * max_c) // n_rows AS BIGINT)
                AS top1_share_permille,
              CAST((100 * max_c * n_keys) // n_rows AS BIGINT)
                AS skew_ratio_x100,
              CAST((max_c * n_keys + n_rows - 1) // n_rows AS BIGINT)
                AS salt_factor
       FROM st JOIN p99 ON st.col = p99.col
       ORDER BY key_col""",
    doc="Join/agg KEY-SKEW audit over the fact table's join keys — "
    "the pre-flight a 100 TB shuffle plan runs before committing to "
    "a partitioning: per key column, group-size extremes (max, exact "
    "type-1 p99), the heaviest key's row share, the max/mean skew "
    "ratio, and the derived SALT FACTOR ceil(max/mean) that the "
    "salted-join pattern (certified x39/x94) would need to level the "
    "straggler. Everything is exact integer arithmetic — permille "
    "and x100 ratios via integer division, the p99 via the integer "
    "ceil-rank rule — so the report hashes identically across "
    "engines. The ENGINE reads the p99 off a count-of-counts "
    "HISTOGRAM with a partitioned cumulative window (group-size "
    "domain grain); the ORACLE ranks every key with ROW_NUMBER — "
    "two different order-statistics paths, same integers.",
)
def x209(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        li.select(F.lit("l_partkey").alias("col"), F.col("l_partkey").alias("k"))
        .unionByName(
            li.select(
                F.lit("l_suppkey").alias("col"), F.col("l_suppkey").alias("k")
            )
        )
    )
    kc = keys.groupBy("col", "k").agg(F.count(F.lit(1)).alias("c"))
    st = kc.groupBy("col").agg(
        F.sum("c").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("c").alias("max_c"),
    )
    # count-of-counts histogram: |distinct group size| rows per column
    hist = kc.groupBy("col", "c").agg(F.count(F.lit(1)).alias("k_at_c"))
    wcum = (
        Window.partitionBy("col")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "col", "c", F.sum("k_at_c").over(wcum).alias("cum")
    )
    p99 = (
        cum.join(F.broadcast(st), "col")
        .where(
            F.col("cum")
            >= F.floor((99 * F.col("n_keys") + 99) / 100)
        )
        .groupBy("col")
        .agg(F.min("c").alias("p99_size"))
    )
    return (
        st.join(F.broadcast(p99), "col")
        .select(
            F.col("col").alias("key_col"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("max_c").cast("bigint").alias("max_group"),
            F.col("p99_size").cast("bigint").alias("p99_group"),
            F.floor((1000 * F.col("max_c")) / F.col("n_rows"))
            .cast("bigint")
            .alias("top1_share_permille"),
            F.floor(
                (100 * F.col("max_c") * F.col("n_keys")) / F.col("n_rows")
            )
            .cast("bigint")
            .alias("skew_ratio_x100"),
            F.floor(
                (F.col("max_c") * F.col("n_keys") + F.col("n_rows") - 1)
                / F.col("n_rows")
            )
            .cast("bigint")
            .alias("salt_factor"),
        )
        .orderBy("key_col")
    )


@_q(
    "x210_mcnemar_paired",
    """WITH p AS (
         SELECT (o_orderstatus = 'F') AS t,
                (CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)
                 > 25148548) AS a,
                (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS b
         FROM orders
       ),
       c AS (
         SELECT
           SUM(CASE WHEN (a = t) AND (b = t) THEN 1 ELSE 0 END) AS n11,
           SUM(CASE WHEN (a = t) AND (b <> t) THEN 1 ELSE 0 END) AS n10,
           SUM(CASE WHEN (a <> t) AND (b = t) THEN 1 ELSE 0 END) AS n01,
           SUM(CASE WHEN (a <> t) AND (b <> t) THEN 1 ELSE 0 END) AS n00,
           COUNT(*) AS n
         FROM p
       )
       SELECT CAST(n AS BIGINT) AS n,
              CAST(n11 AS BIGINT) AS both_correct,
              CAST(n10 AS BIGINT) AS only_a,
              CAST(n01 AS BIGINT) AS only_b,
              CAST(n00 AS BIGINT) AS both_wrong,
              CAST((1000 * (n11 + n10)) // n AS BIGINT)
                AS acc_a_permille,
              CAST((1000 * (n11 + n01)) // n AS BIGINT)
                AS acc_b_permille,
              ROUND(((n10 - n01) * (n10 - n01)) * 1.0 / (n10 + n01)
                    + 0.0, 4) AS mcnemar_chi2,
              ROUND(((ABS(n10 - n01) - 1) * (ABS(n10 - n01) - 1)) * 1.0
                    / (n10 + n01) + 0.0, 4) AS mcnemar_corrected
       FROM c""",
    doc="McNemar's paired test comparing two classifiers on the SAME "
    "examples (orders; truth = finalized status, A = a price "
    "threshold rule, B = a priority rule) — the statistically right "
    "way to ask 'is model B actually better than model A' on a "
    "shared eval set: only the DISAGREEMENT cells matter (chi2 = "
    "(b-c)^2/(b+c), plus the Edwards continuity correction), not the "
    "two marginal accuracies (x173 evaluates ONE classifier; x186's "
    "kappa measures agreement, not paired superiority). One "
    "conditional-count aggregate in the exact-integer contingency "
    "form; the only floats are the two final rounded ratios.",
)
def x210(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = o.select(
        (F.col("o_orderstatus") == "F").alias("t"),
        (
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            > 25148548
        ).alias("a"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("b"),
    )
    c = p.agg(
        F.sum(
            F.when((F.col("a") == F.col("t")) & (F.col("b") == F.col("t")), 1)
            .otherwise(0)
        ).alias("n11"),
        F.sum(
            F.when((F.col("a") == F.col("t")) & (F.col("b") != F.col("t")), 1)
            .otherwise(0)
        ).alias("n10"),
        F.sum(
            F.when((F.col("a") != F.col("t")) & (F.col("b") == F.col("t")), 1)
            .otherwise(0)
        ).alias("n01"),
        F.sum(
            F.when((F.col("a") != F.col("t")) & (F.col("b") != F.col("t")), 1)
            .otherwise(0)
        ).alias("n00"),
        F.count(F.lit(1)).alias("n"),
    )
    diff = F.col("n10") - F.col("n01")
    disc = (F.col("n10") + F.col("n01")).cast("double")
    return c.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n11").cast("bigint").alias("both_correct"),
        F.col("n10").cast("bigint").alias("only_a"),
        F.col("n01").cast("bigint").alias("only_b"),
        F.col("n00").cast("bigint").alias("both_wrong"),
        F.floor((1000 * (F.col("n11") + F.col("n10"))) / F.col("n"))
        .cast("bigint")
        .alias("acc_a_permille"),
        F.floor((1000 * (F.col("n11") + F.col("n01"))) / F.col("n"))
        .cast("bigint")
        .alias("acc_b_permille"),
        F.round((diff * diff).cast("double") / disc + F.lit(0.0), 4)
        .alias("mcnemar_chi2"),
        F.round(
            ((F.abs(diff) - 1) * (F.abs(diff) - 1)).cast("double") / disc
            + F.lit(0.0),
            4,
        ).alias("mcnemar_corrected"),
    )


@_q(
    "x211_benford_digits",
    """WITH v AS (
         SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders
         WHERE o_totalprice > 0
       ),
       d AS (
         SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
                  AS digit
         FROM v
       ),
       c AS (SELECT digit, COUNT(*) AS n_obs FROM d GROUP BY 1),
       n AS (SELECT SUM(n_obs) AS nt FROM c),
       grid AS (SELECT CAST(g AS BIGINT) AS digit
                FROM generate_series(1, 9) t(g))
       SELECT grid.digit AS digit,
              CAST(COALESCE(c.n_obs, 0) AS BIGINT) AS n_obs,
              CAST((1000 * COALESCE(c.n_obs, 0)) // n.nt AS BIGINT)
                AS obs_permille,
              ROUND(n.nt * LN((grid.digit + 1.0) / grid.digit)
                    / LN(10.0) + 0.0, 2) AS expected_n,
              ROUND(
                (COALESCE(c.n_obs, 0)
                 - n.nt * LN((grid.digit + 1.0) / grid.digit) / LN(10.0))
                * (COALESCE(c.n_obs, 0)
                   - n.nt * LN((grid.digit + 1.0) / grid.digit)
                     / LN(10.0))
                / (n.nt * LN((grid.digit + 1.0) / grid.digit) / LN(10.0))
                + 0.0, 4) AS chi2_component
       FROM grid LEFT JOIN c ON grid.digit = c.digit, n
       ORDER BY digit""",
    doc="Benford first-digit conformance screen over monetary values "
    "(order cents) — the classic fabricated-/synthetic-data tripwire "
    "an ingest audit runs on amount columns: observed leading-digit "
    "counts against the Benford expectation N*log10(1+1/d), with the "
    "per-digit chi-squared components localizing WHICH digits "
    "deviate. The first digit is taken from the exact integer cents' "
    "decimal string (no float log flooring); the 1..9 grid is a "
    "constant frame LEFT-joined so absent digits report 0 rather "
    "than vanishing. expected_n's ln((d+1)/d)/ln(10) is the same "
    "exact rational evaluated once on each engine (the x44 ln "
    "discipline) — the only floats in the query.",
)
def x211(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents")
        )
    )
    c = (
        v.select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    nt = c.agg(F.sum("n_obs").alias("nt"))
    grid = spark.range(1, 10).select(F.col("id").alias("digit"))
    pd_ = F.log((F.col("digit") + F.lit(1.0)) / F.col("digit")) / F.log(
        F.lit(10.0)
    )
    exp_n = F.col("nt") * pd_
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0))
    return (
        grid.join(F.broadcast(c), "digit", "left")
        .join(F.broadcast(nt))
        .select(
            F.col("digit").cast("bigint").alias("digit"),
            n_obs.cast("bigint").alias("n_obs"),
            F.floor((1000 * n_obs) / F.col("nt"))
            .cast("bigint")
            .alias("obs_permille"),
            F.round(exp_n + F.lit(0.0), 2).alias("expected_n"),
            F.round(
                (n_obs - exp_n) * (n_obs - exp_n) / exp_n + F.lit(0.0), 4
            ).alias("chi2_component"),
        )
        .orderBy("digit")
    )


@_q(
    "x212_theil_index",
    """WITH o AS (
         SELECT c.c_mktsegment AS seg, o.o_custkey AS k,
                SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                  AS x
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1, 2
       ),
       s AS (SELECT seg, SUM(x) AS sx, COUNT(*) AS n, MAX(x) AS mx
             FROM o GROUP BY 1)
       SELECT o.seg AS c_mktsegment,
              CAST(MAX(s.n) AS BIGINT) AS n_customers,
              CAST(MAX(s.sx) AS BIGINT) AS sum_cents,
              CAST((1000 * MAX(s.mx)) // MAX(s.sx) AS BIGINT)
                AS max_share_permille,
              ROUND(SUM((o.x * 1.0 / s.sx)
                        * LN(o.x * 1.0 * s.n / s.sx)) + 0.0, 6)
                AS theil_t
       FROM o JOIN s ON o.seg = s.seg
       GROUP BY 1 ORDER BY 1""",
    doc="Theil T inequality index of customer lifetime value per "
    "market segment — the decomposable concentration measure a "
    "mixture audit reports next to x158's Gini/x163's Lorenz points "
    "(Theil is additively decomposable across groups, which those "
    "are not): T = sum (x_i/S) ln(x_i N / S) over per-customer cents "
    "totals. Sums, counts and the max-share permille stay exact "
    "BIGINT; the per-term float is ln of the exact rational "
    "x_i*N/S weighted by x_i/S (the x44 ln discipline), summed at "
    "customer grain (bounded terms per segment). Scale: one grouped "
    "rollup, one 5-row broadcast join back — no windows.",
)
def x212(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_custkey").alias("k"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )
    s = o.groupBy("seg").agg(
        F.sum("x").alias("sx"),
        F.count(F.lit(1)).alias("n"),
        F.max("x").alias("mx"),
    )
    j = o.join(F.broadcast(s), "seg")
    return (
        j.groupBy("seg")
        .agg(
            F.max("n").cast("bigint").alias("n_customers"),
            F.max("sx").cast("bigint").alias("sum_cents"),
            F.floor((1000 * F.max("mx")) / F.max("sx"))
            .cast("bigint")
            .alias("max_share_permille"),
            F.round(
                F.sum(
                    (F.col("x").cast("double") / F.col("sx").cast("double"))
                    * F.log(
                        F.col("x").cast("double")
                        * F.col("n").cast("double")
                        / F.col("sx").cast("double")
                    )
                )
                + F.lit(0.0),
                6,
            ).alias("theil_t"),
        )
        .select(
            F.col("seg").alias("c_mktsegment"),
            "n_customers",
            "sum_cents",
            "max_share_permille",
            "theil_t",
        )
        .orderBy("c_mktsegment")
    )


@_q(
    "x213_activity_streaks",
    """WITH days AS (
         SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
       ),
       isl AS (
         SELECT user_id,
                d - CAST(ROW_NUMBER() OVER (
                      PARTITION BY user_id ORDER BY d) AS INTEGER)
                  AS island
         FROM days
       ),
       runs AS (
         SELECT user_id, island, COUNT(*) AS len
         FROM isl GROUP BY 1, 2
       ),
       pu AS (
         SELECT user_id, MAX(len) AS max_streak,
                COUNT(*) AS n_islands
         FROM runs GROUP BY 1
       )
       SELECT CAST(max_streak AS BIGINT) AS max_streak_days,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              CAST(SUM(n_islands) AS BIGINT) AS total_islands
       FROM pu GROUP BY 1 ORDER BY max_streak_days""",
    doc="Gaps-and-islands consecutive-activity streaks over the event "
    "stream — the classic SQL sessionization-by-calendar pattern "
    "(x23 sessionizes by inactivity GAPS within a day; this finds "
    "maximal runs of consecutive ACTIVE DAYS per user): the island "
    "key is date minus row_number-in-days, constant exactly along a "
    "consecutive run, so streaks fall out of two grouped counts. "
    "The distribution of per-user longest streaks + island counts "
    "is the engagement-contiguity report. All windows are "
    "PARTITIONED by user over the distinct-day grain; everything is "
    "exact integers.",
)
def x213(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("d"))
        .distinct()
    )
    isl = days.select(
        "user_id",
        F.date_sub(
            "d",
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("d")),
        ).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("len")
    )
    pu = runs.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_islands"),
    )
    return (
        pu.groupBy(
            F.col("max_streak").cast("bigint").alias("max_streak_days")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n_islands").cast("bigint").alias("total_islands"),
        )
        .orderBy("max_streak_days")
    )


@_q(
    "x214_funnel_latency",
    """WITH ev AS (
         SELECT user_id, event_type, epoch_us(ts) AS us FROM events
       ),
       v AS (SELECT user_id, MIN(us) AS first_view
             FROM ev WHERE event_type = 'view' GROUP BY 1),
       p AS (SELECT e.user_id,
                    MIN(e.us) - MAX(v.first_view) AS lat
             FROM ev e JOIN v ON e.user_id = v.user_id
             WHERE e.event_type = 'purchase' AND e.us >= v.first_view
             GROUP BY 1),
       r AS (SELECT lat,
                    ROW_NUMBER() OVER (ORDER BY lat) AS rn,
                    COUNT(*) OVER () AS n
             FROM p)
       SELECT CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_viewers,
              CAST(MAX(n) AS BIGINT) AS n_converted,
              CAST((1000 * MAX(n))
                   // (SELECT COUNT(*) FROM v) AS BIGINT)
                AS conv_permille,
              CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100
                            THEN lat END) AS BIGINT) AS p50_lat_us,
              CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100
                            THEN lat END) AS BIGINT) AS p90_lat_us,
              CAST(SUM(lat) // MAX(n) AS BIGINT) AS mean_lat_us
       FROM r""",
    doc="Funnel conversion LATENCY distribution (x134 counts who "
    "converts; this measures HOW LONG view -> first subsequent "
    "purchase takes): per user the first 'view' timestamp joined to "
    "the earliest 'purchase' at-or-after it, latencies kept as exact "
    "BIGINT microseconds (the x194 unix-micros discipline), then "
    "exact type-1 p50/p90 via the integer ceil-rank rule and an "
    "integer-division mean — no float timestamps anywhere. The "
    "ENGINE computes the percentiles from a latency-histogram "
    "cumulative fold (grouped_cumsum shape: windows over the "
    "aggregated value domain, never a global row sort); the ORACLE "
    "ranks every latency with ROW_NUMBER — two order-statistics "
    "paths, same exact integers.",
)
def x214(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(F.col("us") >= F.col("first_view"))
        .groupBy("user_id")
        .agg((F.min("us") - F.max("first_view")).alias("lat"))
    )
    n_viewers = v.count()
    hist = p.groupBy("lat").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.orderBy("lat")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy()
    cum = hist.select(
        "lat",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("lat") * F.col("c")).over(wall).alias("sum_lat"),
    )
    pick = cum.agg(
        F.max("n").alias("n"),
        F.max("sum_lat").alias("sum_lat"),
        F.min(
            F.when(
                F.col("cum")
                >= F.floor((50 * F.col("n") + 99) / 100),
                F.col("lat"),
            )
        ).alias("p50"),
        F.min(
            F.when(
                F.col("cum")
                >= F.floor((90 * F.col("n") + 99) / 100),
                F.col("lat"),
            )
        ).alias("p90"),
    )
    return pick.select(
        F.lit(n_viewers).cast("bigint").alias("n_viewers"),
        F.col("n").cast("bigint").alias("n_converted"),
        F.floor((1000 * F.col("n")) / F.lit(n_viewers))
        .cast("bigint")
        .alias("conv_permille"),
        F.col("p50").cast("bigint").alias("p50_lat_us"),
        F.col("p90").cast("bigint").alias("p90_lat_us"),
        F.floor(F.col("sum_lat") / F.col("n"))
        .cast("bigint")
        .alias("mean_lat_us"),
    )


@_q(
    "x215_cuped_adjustment",
    """WITH ev AS (
         SELECT user_id, day(ts) AS d, value FROM events
       ),
       pu AS (
         SELECT user_id, user_id % 2 AS variant,
                SUM(CASE WHEN d <= 10 THEN value ELSE 0 END) AS pre,
                SUM(CASE WHEN d >= 21 THEN value ELSE 0 END) AS post
         FROM ev GROUP BY 1, 2
       ),
       g AS (
         SELECT covar_pop(pre, post) / var_pop(pre) AS theta,
                AVG(pre) AS mpre,
                var_pop(post) AS vpost,
                var_pop(post) - covar_pop(pre, post)
                  * covar_pop(pre, post) / var_pop(pre) AS vadj
         FROM pu
       )
       SELECT CAST(variant AS BIGINT) AS variant,
              CAST(COUNT(*) AS BIGINT) AS n_users,
              ROUND(AVG(post) + 0.0, 4) AS mean_post,
              ROUND(AVG(post) - MAX(g.theta)
                    * (AVG(pre) - MAX(g.mpre)) + 0.0, 4)
                AS mean_cuped,
              ROUND(MAX(g.theta) + 0.0, 6) AS theta,
              ROUND(MAX(g.vpost) + 0.0, 4) AS var_post,
              ROUND(MAX(g.vadj) + 0.0, 4) AS var_cuped
       FROM pu, g
       GROUP BY variant ORDER BY variant""",
    doc="CUPED variance-reduced experiment readout (Deng et al.'s "
    "controlled-experiment pre-period adjustment — the standard "
    "trick that cuts A/B metric variance 30-60% for free): per user "
    "a pre-period covariate (days 1-10 value) and the experiment "
    "metric (days 21-30), theta = cov(pre,post)/var(pre) fit on ALL "
    "users, per-variant adjusted mean = mean_post - theta*(mean_pre "
    "- global_mean_pre), and the achieved variance reduction "
    "var_adj = var_post - cov^2/var_pre reported next to the raw "
    "variance — all from ONE pass of second moments (the adjusted "
    "series is never materialized; the algebra collapses it). The "
    "ENGINE computes raw sum/sum-of-squares/cross moments; the "
    "ORACLE uses DuckDB's independent covar_pop/var_pop built-ins.",
)
def x215(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.dayofmonth("ts").alias("d"), "value"
    )
    pu = ev.groupBy(
        "user_id", (F.col("user_id") % 2).alias("variant")
    ).agg(
        F.sum(
            F.when(F.col("d") <= 10, F.col("value")).otherwise(F.lit(0.0))
        ).alias("pre"),
        F.sum(
            F.when(F.col("d") >= 21, F.col("value")).otherwise(F.lit(0.0))
        ).alias("post"),
    )
    g = pu.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pre").alias("sp"),
        F.sum("post").alias("so"),
        F.sum(F.col("pre") * F.col("post")).alias("spo"),
        F.sum(F.col("pre") * F.col("pre")).alias("spp"),
        F.sum(F.col("post") * F.col("post")).alias("soo"),
    ).select(
        (
            (F.col("spo") / F.col("n") - F.col("sp") * F.col("so") / (F.col("n") * F.col("n")))
            / (F.col("spp") / F.col("n") - F.col("sp") * F.col("sp") / (F.col("n") * F.col("n")))
        ).alias("theta"),
        (F.col("sp") / F.col("n")).alias("mpre"),
        (
            F.col("soo") / F.col("n") - F.col("so") * F.col("so") / (F.col("n") * F.col("n"))
        ).alias("vpost"),
        (
            (F.col("soo") / F.col("n") - F.col("so") * F.col("so") / (F.col("n") * F.col("n")))
            - (F.col("spo") / F.col("n") - F.col("sp") * F.col("so") / (F.col("n") * F.col("n")))
            * (F.col("spo") / F.col("n") - F.col("sp") * F.col("so") / (F.col("n") * F.col("n")))
            / (F.col("spp") / F.col("n") - F.col("sp") * F.col("sp") / (F.col("n") * F.col("n")))
        ).alias("vadj"),
    )
    return (
        pu.groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.avg("post").alias("mp"),
            F.avg("pre").alias("mr"),
        )
        .join(F.broadcast(g))
        .select(
            F.col("variant").cast("bigint").alias("variant"),
            "n_users",
            F.round(F.col("mp") + F.lit(0.0), 4).alias("mean_post"),
            F.round(
                F.col("mp")
                - F.col("theta") * (F.col("mr") - F.col("mpre"))
                + F.lit(0.0),
                4,
            ).alias("mean_cuped"),
            F.round(F.col("theta") + F.lit(0.0), 6).alias("theta"),
            F.round(F.col("vpost") + F.lit(0.0), 4).alias("var_post"),
            F.round(F.col("vadj") + F.lit(0.0), 4).alias("var_cuped"),
        )
        .orderBy("variant")
    )


@_q(
    "x216_runs_test",
    """WITH o AS (
         SELECT c.c_mktsegment AS seg,
                (CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                 > 25148548) AS hi,
                o.o_orderdate AS d, o.o_orderkey AS k
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       ),
       s AS (
         SELECT seg, hi,
                LAG(hi) OVER (PARTITION BY seg ORDER BY d, k)
                  AS prev_hi
         FROM o
       ),
       c AS (
         SELECT seg,
                SUM(CASE WHEN hi THEN 1 ELSE 0 END) AS n1,
                SUM(CASE WHEN hi THEN 0 ELSE 1 END) AS n2,
                1 + SUM(CASE WHEN prev_hi IS NOT NULL
                              AND hi <> prev_hi THEN 1 ELSE 0 END)
                  AS r
         FROM s GROUP BY 1
       )
       SELECT seg AS c_mktsegment,
              CAST(n1 AS BIGINT) AS n_above,
              CAST(n2 AS BIGINT) AS n_below,
              CAST(r AS BIGINT) AS n_runs,
              ROUND(1.0 + 2.0 * n1 * n2 / (n1 + n2) + 0.0, 4)
                AS expected_runs,
              ROUND((r - (1.0 + 2.0 * n1 * n2 / (n1 + n2)))
                    / SQRT(2.0 * n1 * n2
                           * (2.0 * n1 * n2 - n1 - n2)
                           / ((n1 + n2) * 1.0 * (n1 + n2)
                              * (n1 + n2 - 1))) + 0.0, 4) AS z
       FROM c ORDER BY c_mktsegment""",
    doc="Wald-Wolfowitz runs test for serial randomness of the order-"
    "value sequence per market segment — the sequence-level drift "
    "tripwire (x116's CUSUM localizes a level shift; this asks the "
    "prior question: is the above/below-threshold SIGN sequence "
    "random at all, or does it clump?): each segment's orders in "
    "(date, key) total order are signed against a fixed cents "
    "threshold, runs counted from one partitioned LAG, and the "
    "normal-approximation z-score computed from the exact integer "
    "(n1, n2, R) triple — counts never leave BIGINT until the two "
    "rounded ratios. The sequence window is PARTITIONED by segment "
    "(never a global sort); the aggregate is one conditional-count "
    "pass.",
)
def x216(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            (
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
                > 25148548
            ).alias("hi"),
            F.col("o_orderdate").alias("d"),
            F.col("o_orderkey").alias("k"),
        )
    )
    s = o.select(
        "seg",
        "hi",
        F.lag("hi").over(Window.partitionBy("seg").orderBy("d", "k")).alias(
            "prev_hi"
        ),
    )
    c = s.groupBy("seg").agg(
        F.sum(F.when(F.col("hi"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("hi"), 0).otherwise(1)).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev_hi").isNotNull()
                    & (F.col("hi") != F.col("prev_hi")),
                    1,
                ).otherwise(0)
            )
        ).alias("r"),
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    mu = F.lit(1.0) + 2.0 * n1 * n2 / (n1 + n2)
    sig = F.sqrt(
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return c.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("n1").cast("bigint").alias("n_above"),
        F.col("n2").cast("bigint").alias("n_below"),
        F.col("r").cast("bigint").alias("n_runs"),
        F.round(mu + F.lit(0.0), 4).alias("expected_runs"),
        F.round(
            (F.col("r").cast("double") - mu) / sig + F.lit(0.0), 4
        ).alias("z"),
    ).orderBy("c_mktsegment")


@_q(
    "x217_vacuum_lifecycle",
    """SELECT p_brand,
              CAST(COUNT(*) AS BIGINT) AS n_parts,
              CAST(SUM(CAST(ROUND(p_retailprice * 100, 0) AS BIGINT))
                   AS BIGINT) AS sum_cents,
              CAST(1 AS BIGINT) AS n_dirs_removed,
              CAST(1 AS BIGINT) AS restore_blocked,
              CAST(1 AS BIGINT) AS timetravel_blocked
       FROM part WHERE p_size > 25
       GROUP BY 1 ORDER BY 1""",
    doc="VACUUM certified end to end (snapshots.py:vacuum — x127 "
    "certifies that time travel WORKS on retained history; this "
    "certifies the retention boundary): the engine creates the part "
    "snapshot (v0), truncate-and-loads a disjoint slice (v1 "
    "overwrite), vacuums with keep_last=1 — exactly v0's ONE data "
    "directory is physically deleted and its manifest dropped, "
    "deletion derived from what retained manifests REFERENCE (never "
    "age heuristics) — then proves the boundary: RESTORE to v0 "
    "refuses (fail-fast against the dropped manifest/missing dirs, "
    "never a half-restored table) and time travel to v0 raises, "
    "while the HEAD remains exactly the oracle's v1 reconstruction. "
    "The blocked-verb counts and removed-dir count ride as oracle-"
    "pinned literals. Lakehouse-certification tier (tempdir commits, "
    "<=|brands| driver folds).",
)
def x217(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.col("p_brand").alias("b"),
        F.col("p_size").alias("sz"),
        F.round(F.col("p_retailprice") * 100, 0).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="dde_vacuum_")
    restore_blocked = 0
    tt_blocked = 0
    try:
        t = f"{root}/t"
        snap.commit(spark, base.where(F.col("sz") <= 25), t,
                    mode="overwrite")                                 # v0
        snap.commit(spark, base.where(F.col("sz") > 25), t,
                    mode="overwrite")                                 # v1
        removed = snap.vacuum(t, keep_last=1)
        try:
            snap.restore_table(spark, t, 0)
        except ValueError:
            restore_blocked += 1  # dropped manifest / vacuumed dirs
        try:
            snap.read_snapshot(spark, t, 0).count()
        except Exception:
            tt_blocked += 1
        agg = (
            snap.read_snapshot(spark, t)
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_parts"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [(r["b"], r["n_parts"], r["sum_cents"]) for r in agg.collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "p_brand STRING, n_parts BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_dirs_removed", F.lit(len(removed)).cast("bigint"))
        .withColumn(
            "restore_blocked", F.lit(restore_blocked).cast("bigint")
        )
        .withColumn(
            "timetravel_blocked", F.lit(tt_blocked).cast("bigint")
        )
        .orderBy("p_brand")
    )


# ---------------------------------------------------------------------------
# Round-13 continuation (x218–x229): predicate-scoped overwrite +
# timestamp travel, association rules, ANOVA, ACF, concentration,
# Markov transitions, jackknife, Mann-Whitney, EWMA, Gini, JS
# divergence, information gain.
# ---------------------------------------------------------------------------


@_q(
    "x218_replace_where_lifecycle",
    """WITH base AS (
         SELECT o_orderkey AS k, o_orderpriority AS pr,
                CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders WHERE o_orderkey % 10 = 0
       ),
       final AS (
         SELECT k, pr, cents FROM base WHERE pr <> '1-URGENT'
         UNION ALL
         SELECT k, pr, cents * 2 AS cents FROM base
         WHERE pr = '1-URGENT'
       )
       SELECT pr AS o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(cents) AS BIGINT) AS sum_cents,
              CAST((SELECT COUNT(*) FROM base WHERE pr = '1-URGENT')
                   AS BIGINT) AS n_cdc_deletes,
              CAST((SELECT COUNT(*) FROM base WHERE pr = '1-URGENT')
                   AS BIGINT) AS n_cdc_inserts,
              CAST(1 AS BIGINT) AS ts_resolved_v0,
              CAST(1 AS BIGINT) AS refusal_blocked
       FROM final GROUP BY pr ORDER BY pr""",
    doc="replace_where + TIMESTAMP AS OF certified end to end "
    "(snapshots.py:replace_where/version_at_timestamp — Delta's "
    "replaceWhere writer option and timestamp travel): the engine "
    "snapshots an orders slice (v0, injected commit stamp), "
    "predicate-scope-overwrites the URGENT rows with a doubled-cents "
    "reload in ONE commit, then proves the contract: the CDC set is "
    "EXACTLY |scope| deletes + |reload| inserts (out-of-scope "
    "survivors ship nothing), a violating reload (a non-urgent row "
    "smuggled into the urgent scope) REFUSES before publishing "
    "(validate=True, Delta's default), and TIMESTAMP AS OF between "
    "the two commit stamps resolves to v0 with exactly the "
    "pre-replace row count. The final head, grouped by priority, "
    "must equal the oracle's survivors-union-reload reconstruction. "
    "Lakehouse-certification tier (tempdir commits, bounded driver "
    "folds).",
)
def x218(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 10 == 0
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias(
            "cents"
        ),
    )
    root = tempfile.mkdtemp(prefix="dde_rw_")
    ts_ok = 0
    refused = 0
    try:
        t = f"{root}/t"
        snap.commit(spark, base, t, mode="overwrite",
                    _ts_us=1_000_000 * 1_000_000)                 # v0
        n_v0 = snap.read_snapshot(spark, t).count()
        reload_df = base.where(F.col("pr") == "1-URGENT").select(
            "k", "pr", (F.col("cents") * 2).alias("cents")
        )
        vr = snap.replace_where(spark, reload_df, t, "pr = '1-URGENT'")
        # violating reload refuses BEFORE publishing anything
        try:
            snap.replace_where(
                spark,
                base.where(F.col("pr") == "2-HIGH").limit(5),
                t,
                "pr = '1-URGENT'",
            )
        except ValueError:
            if snap.current_version(t) == vr:
                refused = 1
        # timestamp between the two commit stamps resolves to v0
        if (
            snap.version_at_timestamp(t, 2_000_000) == 0
            and snap.read_snapshot(spark, t, timestamp=2_000_000).count()
            == n_v0
        ):
            ts_ok = 1
        chg = snap.read_changes(spark, t, vr - 1, vr)
        # one aggregate pass over the change set instead of two
        # filtered count() jobs (r13)
        _r = chg.agg(
            F.sum((F.col("_change_type") == "delete").cast("long")),
            F.sum((F.col("_change_type") == "insert").cast("long")),
        ).collect()[0]
        n_del = int(_r[0] or 0)
        n_ins = int(_r[1] or 0)
        agg = (
            snap.read_snapshot(spark, t)
            .groupBy("pr")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
        )
        rows = [
            (r["pr"], r["n_rows"], r["sum_cents"]) for r in agg.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "o_orderpriority STRING, n_rows BIGINT, sum_cents BIGINT"
        )
        .withColumn("n_cdc_deletes", F.lit(n_del).cast("bigint"))
        .withColumn("n_cdc_inserts", F.lit(n_ins).cast("bigint"))
        .withColumn("ts_resolved_v0", F.lit(ts_ok).cast("bigint"))
        .withColumn("refusal_blocked", F.lit(refused).cast("bigint"))
        .orderBy("o_orderpriority")
    )


@_q(
    "x219_item_similarity",
    """WITH ib AS (SELECT DISTINCT l_orderkey AS o, p_brand AS b
                   FROM lineitem JOIN part ON l_partkey = p_partkey),
       pr AS (SELECT x.b AS brand_a, y.b AS brand_b,
                     CAST(COUNT(*) AS BIGINT) AS n_ab
              FROM ib x JOIN ib y ON x.o = y.o AND x.b < y.b
              GROUP BY 1, 2),
       bc AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n FROM ib GROUP BY 1)
       SELECT pr.brand_a, pr.brand_b, pr.n_ab,
              ca.n AS n_a, cb.n AS n_b,
              ROUND(pr.n_ab / SQRT(ca.n * 1.0 * cb.n) + 0.0, 6)
                AS cosine,
              ROUND(pr.n_ab * 1.0 / (ca.n + cb.n - pr.n_ab) + 0.0, 6)
                AS jaccard
       FROM pr
       JOIN bc ca ON ca.b = pr.brand_a
       JOIN bc cb ON cb.b = pr.brand_b
       ORDER BY brand_a, brand_b""",
    doc="Item-item similarity from order co-occurrence — the "
    "collaborative-filtering neighbor table (x159 mines RULES from "
    "the same co-occurrence counts: support/confidence/lift answer "
    "'does A imply B'; cosine/Jaccard answer 'how alike are A and B' "
    "— the symmetric measures an item-based recommender or a "
    "substitute-detection audit ranks by): per-order brand sets are "
    "bounded (~4 lines against 25 brands), so the a<b pairs generate "
    "ROW-LOCALLY via the nested array-HOF (transform x slice inside "
    "flatten) — pair fan-out is quadratic only in the order size, "
    "never the corpus; the only shuffles are the itemset dedup and "
    "the |brands|^2-bounded pair count, and the per-brand counts "
    "attach as 25-row broadcasts. cosine = n_ab/sqrt(n_a*n_b) "
    "(Ochiai) and jaccard = n_ab/(n_a+n_b-n_ab) fold from EXACT "
    "bigint counts to one rounded division each (sqrt of the same "
    "exact product agrees across engines at the 1e-6 grain). The "
    "ORACLE generates pairs with the literal equi-self-join — the "
    "same algorithmic duality x159 pins.",
)
def x219(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), "l_partkey"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select("o", F.col("p_brand").alias("b"))
        .distinct()
    )
    pairs = (
        items.groupBy("o")
        .agg(F.sort_array(F.collect_set("b")).alias("bs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (x, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.a").alias("brand_a"), F.col("p.b").alias("brand_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    bc = items.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = (
        pairs.join(
            F.broadcast(
                bc.select(
                    F.col("b").alias("brand_a"), F.col("n").alias("n_a")
                )
            ),
            "brand_a",
        )
        .join(
            F.broadcast(
                bc.select(
                    F.col("b").alias("brand_b"), F.col("n").alias("n_b")
                )
            ),
            "brand_b",
        )
    )
    return out.select(
        "brand_a",
        "brand_b",
        F.col("n_ab").cast("bigint").alias("n_ab"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round(
            F.col("n_ab")
            / F.sqrt(F.col("n_a").cast("double") * F.col("n_b"))
            + F.lit(0.0),
            6,
        ).alias("cosine"),
        F.round(
            F.col("n_ab")
            / (F.col("n_a") + F.col("n_b") - F.col("n_ab")).cast(
                "double"
            )
            + F.lit(0.0),
            6,
        ).alias("jaccard"),
    ).orderBy("brand_a", "brand_b")


@_q(
    "x220_anova_f",
    """WITH g AS (
         SELECT c.c_mktsegment AS seg,
                COUNT(*) AS n,
                SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS s,
                SUM(CAST(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)
                         AS DECIMAL(38,0))
                    * CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT))
                  AS ss
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
         GROUP BY 1
       ),
       t AS (
         SELECT COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS st,
                SUM(CAST(ss AS DOUBLE)) AS sst,
                SUM(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) AS sg
         FROM g
       )
       SELECT CAST(k AS BIGINT) AS k_groups,
              CAST(nn AS BIGINT) AS n_total,
              ROUND(((sg - CAST(st AS DOUBLE) * st / nn) / (k - 1))
                    / ((sst - sg) / (nn - k)) + 0.0, 4) AS f_stat,
              ROUND((sg - CAST(st AS DOUBLE) * st / nn)
                    / (sst - CAST(st AS DOUBLE) * st / nn) + 0.0, 6)
                AS eta_sq
       FROM t""",
    doc="One-way ANOVA of order value (cents) across market segments — "
    "the classic does-the-group-mean-differ gate for mixture/ablation "
    "readouts (x188's Kruskal-Wallis is its rank-based twin; x112's "
    "Welch t the two-group case): per-group moments (n, Σx, Σx²) in ONE partial-agg "
    "pass, Σx² held as DECIMAL(38,0) (cents² × 1.5M rows overflows "
    "int64), then F = (SSB/(k−1))/(SSW/(N−k)) and η² assembled on "
    "the k-row aggregate — between-group mass Σ S_g²/n_g computed in "
    "doubles over exact integer moments (k=5 terms; deterministic "
    "IEEE at the 1e-4 rounding grain). No raw-row second pass, no "
    "global window; the segment attach is the orders⋈customer "
    "shuffle join.",
)
def x220(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100, 0)
            .cast("bigint")
            .alias("cents"),
        )
    )
    g = o.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(
            F.col("cents").cast("decimal(38,0)") * F.col("cents")
        ).alias("ss"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("st"),
        F.sum(F.col("ss").cast("double")).alias("sst"),
        F.sum(
            F.col("s").cast("double") * F.col("s") / F.col("n")
        ).alias("sg"),
    )
    k = F.col("k").cast("double")
    nn = F.col("nn").cast("double")
    grand = F.col("st").cast("double") * F.col("st") / nn
    ssb = F.col("sg") - grand
    ssw = F.col("sst") - F.col("sg")
    return t.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("nn").cast("bigint").alias("n_total"),
        F.round(
            (ssb / (k - 1)) / (ssw / (nn - k)) + F.lit(0.0), 4
        ).alias("f_stat"),
        F.round(
            ssb / (F.col("sst") - grand) + F.lit(0.0), 6
        ).alias("eta_sq"),
    )


@_q(
    "x221_forecast_backtest",
    """WITH o AS (
         SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS d,
                CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
       ),
       daily AS (
         SELECT region, d, SUM(cents) AS x FROM o GROUP BY 1, 2
       ),
       mx AS (SELECT MAX(d) AS maxd FROM daily),
       ev AS (
         SELECT a.region, a.x, f.x AS fc
         FROM daily a
         JOIN daily f ON f.region = a.region
                     AND f.d = a.d - INTERVAL 7 DAY
         CROSS JOIN mx
         WHERE a.d > maxd - INTERVAL 28 DAY
       )
       SELECT region,
              CAST(COUNT(*) AS BIGINT) AS n_eval,
              ROUND(SUM(ABS(x - fc)) * 1.0 / COUNT(*) + 0.0, 4)
                AS mae_cents,
              ROUND(SQRT(SUM(CAST(CAST(x - fc AS DECIMAL(38,0))
                                  * (x - fc) AS DOUBLE))
                         / COUNT(*)) + 0.0, 4) AS rmse_cents,
              ROUND(SUM(2.0 * ABS(x - fc) / (x + fc)) / COUNT(*)
                    + 0.0, 6) AS smape
       FROM ev GROUP BY region ORDER BY region""",
    doc="Seasonal-naive forecast backtest per region — the forecast-"
    "ACCURACY family (x136 detects the weekly cycle; x111 fits the "
    "trend; this evaluates the forecast a pipeline would actually "
    "ship, f_t = x_{t-7}, on the trailing 28 days): evaluation "
    "pairs come from a calendar self-join of the per-(region, day) "
    "aggregate on d−7 (a hash join on the aggregate — no window, "
    "no raw-row pass; days without a week-ago observation drop "
    "out), and the three error metrics keep the x44 discipline — "
    "MAE's Σ|x−f| is exact BIGINT over one rounded division, "
    "RMSE's Σ(x−f)² rides DECIMAL(38,0) (squared daily cents "
    "overflow int64 at scale), and sMAPE's ≤28 bounded per-day "
    "terms fold in doubles at the 1e-6 grain. The anchor date is a "
    "1-row broadcast.",
)
def x221(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("x")
        )
    )
    mx = daily.agg(F.max("d").alias("maxd"))
    a = daily.alias("a")
    f = daily.select(
        F.col("region").alias("f_region"),
        F.date_add(F.col("d"), 7).alias("f_d"),
        F.col("x").alias("fc"),
    )
    ev = (
        a.join(
            f,
            (F.col("a.region") == F.col("f_region"))
            & (F.col("a.d") == F.col("f_d")),
        )
        .crossJoin(F.broadcast(mx))
        .where(F.col("a.d") > F.date_sub(F.col("maxd"), 28))
        .select("a.region", "a.x", "fc")
    )
    diff = F.col("x") - F.col("fc")
    return (
        ev.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.round(
                F.sum(F.abs(diff)) / F.count(F.lit(1)).cast("double")
                + F.lit(0.0),
                4,
            ).alias("mae_cents"),
            F.round(
                F.sqrt(
                    F.sum(
                        (diff.cast("decimal(38,0)") * diff).cast(
                            "double"
                        )
                    )
                    / F.count(F.lit(1))
                )
                + F.lit(0.0),
                4,
            ).alias("rmse_cents"),
            F.round(
                F.sum(
                    2.0 * F.abs(diff) / (F.col("x") + F.col("fc"))
                )
                / F.count(F.lit(1))
                + F.lit(0.0),
                6,
            ).alias("smape"),
        )
        .orderBy("region")
    )


@_q(
    "x222_single_source_risk",
    """WITH ps AS (
         SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk
         FROM lineitem
       ),
       k AS (SELECT pk, COUNT(*) AS n_supp FROM ps GROUP BY 1),
       vol AS (
         SELECT l_partkey AS pk,
                SUM(CAST(l_quantity AS BIGINT)) AS qty
         FROM lineitem GROUP BY 1
       )
       SELECT p.p_brand,
              CAST(COUNT(*) AS BIGINT) AS n_parts,
              CAST(SUM(CASE WHEN k.n_supp = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_single_sourced,
              ROUND(SUM(CASE WHEN k.n_supp = 1 THEN 1 ELSE 0 END)
                    * 1.0 / COUNT(*) + 0.0, 6) AS single_share,
              ROUND(SUM(CASE WHEN k.n_supp = 1 THEN vol.qty
                             ELSE 0 END) * 1.0 / SUM(vol.qty)
                    + 0.0, 6) AS single_qty_share
       FROM k
       JOIN part p ON k.pk = p.p_partkey
       JOIN vol ON vol.pk = k.pk
       GROUP BY p.p_brand ORDER BY p.p_brand""",
    doc="Single-source supply risk per brand — the coverage-"
    "redundancy audit (in a training-data pipeline the identical "
    "query asks: which slices of the corpus are covered by exactly "
    "ONE source, so losing that source loses the slice; x187's HHI "
    "measures concentration of MASS, this counts entities with no "
    "redundancy at all): observed (part, supplier) pairs fold to a "
    "per-part supplier count in one distinct + grouped agg, the "
    "per-part quantity rides a parallel partial agg over the same "
    "scan, and each brand reports its single-sourced part count, "
    "share, and the share of VOLUME flowing through single-sourced "
    "parts — all EXACT integers into one rounded division per "
    "measure. The brand attach is a part-table hash join; output "
    "is |brands| rows.",
)
def x222(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("pk"),
        F.col("l_suppkey").alias("sk"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    k = (
        li.select("pk", "sk")
        .distinct()
        .groupBy("pk")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    vol = li.groupBy("pk").agg(F.sum("qty").alias("qty"))
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("pk"), "p_brand"
    )
    single = F.when(F.col("n_supp") == 1, 1).otherwise(0)
    return (
        k.join(vol, "pk")
        .join(part, "pk")
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(single).cast("bigint").alias("n_single_sourced"),
            F.round(
                F.sum(single) / F.count(F.lit(1)).cast("double")
                + F.lit(0.0),
                6,
            ).alias("single_share"),
            F.round(
                F.sum(
                    F.when(F.col("n_supp") == 1, F.col("qty")).otherwise(
                        0
                    )
                )
                / F.sum("qty").cast("double")
                + F.lit(0.0),
                6,
            ).alias("single_qty_share"),
        )
        .orderBy("p_brand")
    )


@_q(
    "x223_interarrival_dispersion",
    """WITH g AS (
         SELECT c.c_mktsegment AS seg,
                date_diff('day',
                  CAST(LAG(o.o_orderdate) OVER (
                    PARTITION BY o.o_custkey
                    ORDER BY o.o_orderdate, o.o_orderkey) AS DATE),
                  CAST(o.o_orderdate AS DATE)) AS gap
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
       ),
       m AS (
         SELECT seg, COUNT(*) AS n, SUM(gap) AS s,
                SUM(gap * gap) AS sq
         FROM g WHERE gap IS NOT NULL GROUP BY 1
       )
       SELECT seg AS c_mktsegment,
              CAST(n AS BIGINT) AS n_gaps,
              ROUND(s * 1.0 / n + 0.0, 4) AS mean_gap_days,
              ROUND((n * sq - s * s) * 1.0 / (n * 1.0 * s) + 0.0, 4)
                AS dispersion_index
       FROM m ORDER BY c_mktsegment""",
    doc="Order inter-arrival dispersion per market segment — the "
    "point-process diagnostic (a Poisson arrival stream has "
    "variance/mean = 1; index >> 1 means BURSTY arrivals — the "
    "property that decides whether a pipeline's ingest sizing can "
    "assume smooth traffic; x213's streaks count runs of "
    "consecutive days, this measures the spacing law): per-"
    "customer gaps come from ONE LAG window PARTITIONED by "
    "custkey in (date, orderkey) total order, and the dispersion "
    "index folds to the exact-integer form (n·Σg² − (Σg)²)/(n·Σg) "
    "— variance-over-mean with ONE rounded division (Σg² of day "
    "gaps ≤ 2406² per row stays far inside int64). One customer-"
    "hash shuffle, then a 5-row moment fold.",
)
def x223(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("d"),
            "o_orderkey",
        )
    )
    g = o.select(
        "seg",
        F.datediff(
            F.col("d"),
            F.lag("d").over(
                Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
            ),
        ).alias("gap"),
    ).where(F.col("gap").isNotNull())
    m = g.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("gap").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).alias("sq"),
    )
    n = F.col("n")
    s = F.col("s")
    return m.select(
        F.col("seg").alias("c_mktsegment"),
        n.cast("bigint").alias("n_gaps"),
        F.round(s / n.cast("double") + F.lit(0.0), 4).alias(
            "mean_gap_days"
        ),
        F.round(
            (n * F.col("sq") - s * s)
            / (n.cast("double") * s)
            + F.lit(0.0),
            4,
        ).alias("dispersion_index"),
    ).orderBy("c_mktsegment")


@_q(
    "x224_jackknife_loo",
    """WITH g AS (
         SELECT c_nationkey AS nk, COUNT(*) AS n,
                SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS s
         FROM customer GROUP BY 1
       ),
       t AS (SELECT SUM(n) AS nn, SUM(s) AS st FROM g)
       SELECT n.n_name,
              CAST(g.n AS BIGINT) AS n_customers,
              ROUND((t.st - g.s) * 1.0 / (t.nn - g.n) + 0.0, 6)
                AS loo_mean_cents,
              ROUND(t.st * 1.0 / t.nn
                    - (t.st - g.s) * 1.0 / (t.nn - g.n) + 0.0, 6)
                AS influence_cents
       FROM g CROSS JOIN t JOIN nation n ON g.nk = n.n_nationkey
       ORDER BY n.n_name""",
    doc="Delete-one-group jackknife of mean account balance — the "
    "resampling-diagnostics family (x195's Poisson bootstrap widths a "
    "CI by hashed resampling; the jackknife is its deterministic "
    "leave-one-out ancestor) (which nation's cohort MOVES the "
    "corpus-level statistic; the leave-one-source-out ablation "
    "readout of a data pipeline): per-nation (n, Σcents) in one "
    "partial-agg pass, grand totals one 25-row fold, each nation's "
    "leave-one-out mean (S−S_g)/(N−n_g) and influence S/N − LOO from "
    "EXACT integers with per-column rounded divisions (two "
    "deterministic IEEE divisions, no order-dependent float sums). "
    "The totals attach is a 1-row broadcast cross join.",
)
def x224(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
            ).alias("s"),
        )
    )
    t = g.agg(F.sum("n").alias("nn"), F.sum("s").alias("st"))
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )
    j = g.crossJoin(F.broadcast(t)).join(F.broadcast(nat), "nk")
    loo = (F.col("st") - F.col("s")) / (
        F.col("nn") - F.col("n")
    ).cast("double")
    return j.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_customers"),
        F.round(loo + F.lit(0.0), 6).alias("loo_mean_cents"),
        F.round(
            F.col("st") / F.col("nn").cast("double") - loo + F.lit(0.0), 6
        ).alias("influence_cents"),
    ).orderBy("n_name")


@_q(
    "x225_wilcoxon_signed_rank",
    """WITH p AS (
         SELECT user_id,
                SUM(CASE WHEN event_type = 'view'
                    THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS sv,
                SUM(CASE WHEN event_type = 'click'
                    THEN CAST(ROUND(value * 100, 0) AS BIGINT) END) AS sc
         FROM events GROUP BY 1
       ),
       d AS (
         SELECT sc - sv AS d, ABS(sc - sv) AS ad FROM p
         WHERE sv IS NOT NULL AND sc IS NOT NULL AND sc <> sv
       ),
       r AS (
         SELECT d,
                RANK() OVER (ORDER BY ad)
                + (COUNT(*) OVER (PARTITION BY ad) - 1) / 2.0
                  AS avg_rank
         FROM d
       ),
       ties AS (
         SELECT SUM(t * t * t - t) AS tie_t
         FROM (SELECT COUNT(*) AS t FROM d GROUP BY ad)
       ),
       m AS (
         SELECT COUNT(*) AS n,
                SUM(CASE WHEN d > 0 THEN avg_rank ELSE 0 END) AS wp
         FROM r
       )
       SELECT CAST(n AS BIGINT) AS n_pairs,
              ROUND(wp + 0.0, 1) AS w_plus,
              ROUND((wp - n * (n + 1) / 4.0)
                    / SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0
                           - tie_t / 48.0) + 0.0, 4) AS z
       FROM m CROSS JOIN ties""",
    doc="Wilcoxon signed-rank test on PAIRED per-user spend (click "
    "total vs view total, exact cents) — the paired-continuous leg "
    "of the nonparametric battery (x153's Mann-Whitney compares two "
    "INDEPENDENT samples; x210's McNemar pairs binary outcomes; "
    "this pairs a continuous measure within each user): the engine "
    "never ranks raw rows — per-user integer differences fold to a "
    "per-distinct-|d| histogram, a cumulative window over that "
    "AGGREGATE yields doubled midranks 2R(v) = 2·cum<(v) + t(v) + 1 "
    "as exact integers, and 2·W+ = Σ pos(v)·2R(v) stays integral "
    "(x153 discipline) into the tie-corrected normal z from the "
    "exact (n, 2W+, Σt³−t) tuple. Zero differences are dropped "
    "(the standard convention). The ORACLE is the textbook "
    "different algorithm — DuckDB average ranks over the raw "
    "per-user rows, W+ = Σ ranks of positive d — so the two "
    "derivations certify each other.",
)
def x225(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    p = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "view", cents)
            ).alias("sv"),
            F.sum(
                F.when(F.col("event_type") == "click", cents)
            ).alias("sc"),
        )
    )
    d = (
        p.where(
            F.col("sv").isNotNull()
            & F.col("sc").isNotNull()
            & (F.col("sc") != F.col("sv"))
        )
        .select(
            (F.col("sc") - F.col("sv")).alias("d"),
            F.abs(F.col("sc") - F.col("sv")).alias("ad"),
        )
    )
    h = d.groupBy("ad").agg(
        F.count(F.lit(1)).alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).alias("pos"),
    )
    w = (
        Window.orderBy("ad")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = h.withColumn(
        "cum_b", F.coalesce(F.sum("t").over(w), F.lit(0))
    )
    m = cum.agg(
        F.sum("t").alias("n"),
        F.sum(
            F.col("pos") * (2 * F.col("cum_b") + F.col("t") + 1)
        ).alias("two_wp"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie_t"),
    )
    n = F.col("n").cast("double")
    wp = F.col("two_wp") / F.lit(2.0)
    var = (
        n * (n + 1) * (2 * n + 1) / 24.0
        - F.col("tie_t") / F.lit(48.0)
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        F.round(wp + F.lit(0.0), 1).alias("w_plus"),
        F.round(
            (wp - n * (n + 1) / 4.0) / F.sqrt(var) + F.lit(0.0), 4
        ).alias("z"),
    )


@_q(
    "x226_holt_linear",
    """WITH o AS (
         SELECT r.r_name AS region, CAST(o.o_orderdate AS DATE) AS d,
                CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT) AS cents
         FROM orders o
         JOIN customer c ON o.o_custkey = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         JOIN region r ON n.n_regionkey = r.r_regionkey
       ),
       daily AS (
         SELECT region, d, CAST(SUM(cents) AS DOUBLE) AS x
         FROM o GROUP BY 1, 2
       ),
       seqs AS (
         SELECT region, list(x ORDER BY d) AS xs
         FROM daily GROUP BY region
       ),
       fitted AS (
         SELECT region, len(xs) AS n,
                list_reduce(
                  list_prepend([xs[1], xs[2] - xs[1]],
                    list_transform(xs[3:], x -> [x, 0.0])),
                  (acc, e) -> [
                    0.5 * e[1] + 0.5 * acc[1] + 0.5 * acc[2],
                    0.25 * e[1] - 0.25 * acc[1] + 0.75 * acc[2]])
                  AS st
         FROM seqs
       )
       SELECT region, CAST(n AS BIGINT) AS n_days,
              ROUND(st[1] + 0.0, 4) AS level_cents,
              ROUND(st[2] + 0.0, 4) AS trend_cents,
              ROUND(st[1] + 7 * st[2] + 0.0, 4) AS forecast_7d
       FROM fitted ORDER BY region""",
    doc="Holt double exponential smoothing (level + trend, "
    "alpha=beta=1/2) of daily revenue per region, with the 7-step "
    "forecast — the TWO-state member of the ordered-recurrence "
    "class x99 pins for one state (each step depends on the "
    "previous OUTPUT pair, inexpressible as any fixed window "
    "frame): the engine collects each region's calendar-bounded "
    "daily series (≤|date domain| elements per group — never "
    "row-sized), seeds (l₁, b₁) = (x₁, x₂−x₁), and folds the "
    "recurrence with one codegen aggregate-HOF carrying an [l, b] "
    "ARRAY accumulator (flattened to the update l' = .5x+.5l+.5b, "
    "b' = .25x-.25l+.75b so neither field reads the other's fresh "
    "value — DuckDB's list_reduce updates struct fields "
    "sequentially, so a struct state would skew); the oracle folds "
    "the identical elements "
    "in the identical order through DuckDB's list_reduce with the "
    "same struct state, so the float recurrence is bit-"
    "reproducible across engines (the x99 property). One region-"
    "hash shuffle; dyadic 1/2 coefficients keep early steps exact.",
)
def x226(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    reg = load_table(spark, sf_dir, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    daily = (
        load_table(spark, sf_dir, "orders")
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("region", F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            )
            .cast("double")
            .alias("x")
        )
    )
    seqs = daily.groupBy("region").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "x"))),
            lambda s: s["x"],
        ).alias("xs")
    )
    x1 = F.element_at(F.col("xs"), 1)
    x2 = F.element_at(F.col("xs"), 2)
    st = F.aggregate(
        F.slice(
            F.col("xs"), 3, F.greatest(F.size("xs") - 2, F.lit(0))
        ),
        F.array(x1, x2 - x1),
        lambda acc, x: F.array(
            F.lit(0.5) * x
            + F.lit(0.5) * F.element_at(acc, 1)
            + F.lit(0.5) * F.element_at(acc, 2),
            F.lit(0.25) * x
            - F.lit(0.25) * F.element_at(acc, 1)
            + F.lit(0.75) * F.element_at(acc, 2),
        ),
    )
    lvl = F.element_at(st, 1)
    trd = F.element_at(st, 2)
    return seqs.select(
        "region",
        F.size("xs").cast("bigint").alias("n_days"),
        F.round(lvl + F.lit(0.0), 4).alias("level_cents"),
        F.round(trd + F.lit(0.0), 4).alias("trend_cents"),
        F.round(lvl + 7 * trd + F.lit(0.0), 4).alias(
            "forecast_7d"
        ),
    ).orderBy("region")


@_q(
    "x227_neyman_allocation",
    """WITH g AS (
         SELECT c_mktsegment AS seg, COUNT(*) AS nh,
                SUM(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS s,
                SUM(CAST(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)
                         AS DECIMAL(38,0))
                    * CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS sq
         FROM customer GROUP BY 1
       ),
       w AS (
         SELECT seg, nh,
                nh * SQRT((nh * CAST(sq AS DOUBLE) - CAST(s AS DOUBLE)
                           * s) / (nh * 1.0 * nh)) AS wh
         FROM g
       ),
       a AS (
         SELECT seg, nh, wh,
                CAST(FLOOR(1000 * wh / SUM(wh) OVER ()) AS BIGINT)
                  AS base,
                1000 * wh / SUM(wh) OVER ()
                  - FLOOR(1000 * wh / SUM(wh) OVER ()) AS frac
         FROM w
       ),
       r AS (
         SELECT seg, nh, wh, base,
                ROW_NUMBER() OVER (ORDER BY frac DESC, seg) AS rk,
                1000 - SUM(base) OVER () AS leftover
         FROM a
       )
       SELECT seg AS c_mktsegment,
              CAST(nh AS BIGINT) AS n_customers,
              ROUND(wh / nh + 0.0, 4) AS sd_cents,
              ROUND(wh / SUM(wh) OVER () + 0.0, 6) AS neyman_share,
              CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                   AS BIGINT) AS alloc
       FROM r ORDER BY c_mktsegment""",
    doc="Neyman-optimal labeling-budget allocation across market "
    "segments — the survey-sampling design op a data pipeline runs "
    "before spending an annotation budget (sample each stratum "
    "proportional to N_h·σ_h, so label effort goes where variance "
    "lives; x61's weighted sampler EXECUTES a design, this "
    "COMPUTES one; the integer split reuses x148's Hamilton "
    "largest-remainder rule so the 1000-unit budget lands exactly): "
    "per-stratum moments (n, Σx, Σx²) fold in ONE pass with Σx² in "
    "DECIMAL(38,0), population σ_h and the weight N_h·σ_h derive "
    "from the same exact rationals in both engines, and the "
    "floor + largest-remainder integer allocation runs as two "
    "windows over the 5-row aggregate (fractional-part ties broken "
    "by segment name). Output: share, σ, and an integer alloc "
    "summing exactly to 1000.",
)
def x227(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    g = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum(cents).alias("s"),
            F.sum(cents.cast("decimal(38,0)") * cents).alias("sq"),
        )
    )
    nh = F.col("nh")
    wh = nh * F.sqrt(
        (nh * F.col("sq").cast("double") - F.col("s").cast("double") * F.col("s"))
        / (nh.cast("double") * nh)
    )
    w = g.select("seg", "nh", wh.alias("wh"))
    wall = Window.partitionBy()
    share = F.col("wh") / F.sum("wh").over(wall)
    a = w.select(
        "seg",
        "nh",
        "wh",
        F.floor(1000 * share).cast("bigint").alias("base"),
        (1000 * share - F.floor(1000 * share)).alias("frac"),
        F.round(share + F.lit(0.0), 6).alias("neyman_share"),
    )
    r = a.select(
        "seg",
        "nh",
        "wh",
        "base",
        "neyman_share",
        F.row_number()
        .over(Window.orderBy(F.desc("frac"), "seg"))
        .alias("rk"),
        (F.lit(1000) - F.sum("base").over(wall)).alias("leftover"),
    )
    return r.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("nh").cast("bigint").alias("n_customers"),
        F.round(F.col("wh") / F.col("nh") + F.lit(0.0), 4).alias(
            "sd_cents"
        ),
        "neyman_share",
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("alloc"),
    ).orderBy("c_mktsegment")


@_q(
    "x228_js_divergence",
    r"""WITH tok AS (
         SELECT source,
                unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                  AS term
         FROM documents
         WHERE source IN ('src0', 'src1', 'src2', 'src3', 'src4')
       ),
       cnt AS (
         SELECT source, term, COUNT(*) AS c FROM tok
         WHERE term <> '' GROUP BY 1, 2
       ),
       vocab AS (
         SELECT term FROM cnt GROUP BY term
         ORDER BY SUM(c) DESC, term LIMIT 100
       ),
       grid AS (
         SELECT s.source, v.term, COALESCE(c.c, 0) AS c,
                SUM(COALESCE(c.c, 0)) OVER (PARTITION BY s.source)
                  AS tot
         FROM (SELECT DISTINCT source FROM cnt) s
         CROSS JOIN vocab v
         LEFT JOIN cnt c ON c.source = s.source AND c.term = v.term
       ),
       pairs AS (
         SELECT a.source AS source_a, b.source AS source_b,
                a.c AS ca, a.tot AS ta, b.c AS cb, b.tot AS tb
         FROM grid a JOIN grid b
           ON a.term = b.term AND a.source < b.source
       )
       SELECT source_a, source_b,
              CAST(SUM(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_shared,
              ROUND(SUM(
                CASE WHEN ca > 0 THEN 0.5 * (ca * 1.0 / ta)
                     * LN((ca * 1.0 / ta)
                          / ((ca * 1.0 / ta + cb * 1.0 / tb) / 2))
                     ELSE 0 END
                + CASE WHEN cb > 0 THEN 0.5 * (cb * 1.0 / tb)
                     * LN((cb * 1.0 / tb)
                          / ((ca * 1.0 / ta + cb * 1.0 / tb) / 2))
                     ELSE 0 END) + 0.0, 4) AS js
       FROM pairs GROUP BY 1, 2 ORDER BY 1, 2""",
    doc="Pairwise Jensen-Shannon divergence between source token "
    "distributions over the shared top-100 vocabulary — the corpus "
    "drift/contamination measure (x49 counts shared fingerprints; "
    "x109 reports add-1-smoothed KL in both directions — asymmetric "
    "and unbounded, where JS is the bounded symmetric metric; "
    "this measures DISTRIBUTIONAL distance, bounded in [0, ln 2]): "
    "one token explode feeds per-(source, term) counts, the vocab "
    "top-100 is a TakeOrdered over the term aggregate, the zero-"
    "filled source×vocab grid is a |sources|×100 frame (per-source "
    "totals renormalized WITHIN the vocab, a window over that tiny "
    "aggregate), and each pair's JS folds 100 exact-rational terms "
    "(probabilities are exact integer ratios; LN of identical "
    "rationals agrees across engines at the 1e-4 grain). Absent "
    "terms contribute their 0·ln0 = 0 limit explicitly. The two "
    "BNLJs are DECLARED bounded: both build sides derive from the "
    "LIMIT-100 vocab (TakeOrdered output) crossed with the "
    "|sources|-row distinct — plan-bounded by the literal limit, "
    "never data-sized.",
    bnlj_bounded=2,
)
def x228(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2", "src3", "src4")
    )
    cnt = (
        tx.tokens(docs, id_col="source")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    vocab = (
        cnt.groupBy("term")
        .agg(F.sum("c").alias("tc"))
        .orderBy(F.desc("tc"), "term")
        .limit(100)
        .select("term")
    )
    sources = cnt.select("source").distinct()
    grid = (
        sources.crossJoin(F.broadcast(vocab))
        .join(cnt, ["source", "term"], "left")
        .select(
            "source", "term", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
        .withColumn(
            "tot", F.sum("c").over(Window.partitionBy("source"))
        )
    )
    a = grid.alias("a")
    b = grid.alias("b")
    pairs = a.join(
        b,
        (F.col("a.term") == F.col("b.term"))
        & (F.col("a.source") < F.col("b.source")),
    ).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.c").alias("ca"),
        F.col("a.tot").alias("ta"),
        F.col("b.c").alias("cb"),
        F.col("b.tot").alias("tb"),
    )
    p = F.col("ca") / F.col("ta").cast("double")
    q = F.col("cb") / F.col("tb").cast("double")
    m = (p + q) / 2
    term_a = F.when(F.col("ca") > 0, 0.5 * p * F.log(p / m)).otherwise(0.0)
    term_b = F.when(F.col("cb") > 0, 0.5 * q * F.log(q / m)).otherwise(0.0)
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.sum(
                F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("n_shared"),
            F.round(F.sum(term_a + term_b) + F.lit(0.0), 4).alias("js"),
        )
        .orderBy("source_a", "source_b")
    )


@_q(
    "x229_info_gain",
    """WITH feat AS (
         SELECT f.feature, f.val,
                CASE WHEN d.n_chars > 300 THEN 1 ELSE 0 END AS label
         FROM documents d, LATERAL (VALUES
           ('lang', d.lang),
           ('source', d.source),
           ('len_bucket', CAST(d.n_chars // 200 AS VARCHAR))
         ) AS f(feature, val)
       ),
       vc AS (
         SELECT feature, val, label, COUNT(*) AS n_vc
         FROM feat GROUP BY 1, 2, 3
       ),
       v AS (
         SELECT feature, val, label, n_vc,
                SUM(n_vc) OVER (PARTITION BY feature, val) AS n_v
         FROM vc
       ),
       lab AS (
         SELECT SUM(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS n1,
                SUM(CASE WHEN n_chars > 300 THEN 0 ELSE 1 END) AS n0,
                COUNT(*) AS nn
         FROM documents
       )
       SELECT feature,
              CAST(COUNT(DISTINCT val) AS BIGINT) AS n_values,
              ROUND(-(n1 * 1.0 / nn) * LN(n1 * 1.0 / nn)
                    - (n0 * 1.0 / nn) * LN(n0 * 1.0 / nn) + 0.0, 6)
                AS h_label,
              ROUND(SUM((n_vc * 1.0 / nn)
                        * LN(n_v * 1.0 / n_vc)) + 0.0, 6) AS h_cond,
              ROUND(-(n1 * 1.0 / nn) * LN(n1 * 1.0 / nn)
                    - (n0 * 1.0 / nn) * LN(n0 * 1.0 / nn)
                    - SUM((n_vc * 1.0 / nn) * LN(n_v * 1.0 / n_vc))
                    + 0.0, 6) AS info_gain
       FROM v CROSS JOIN lab
       GROUP BY feature, n1, n0, nn ORDER BY feature""",
    doc="Information-gain feature ranking against a document-length "
    "label — the decision-tree split criterion (x205/x157 compute the "
    "mutual information of ONE variable pair with its chi-squared; "
    "this ranks SEVERAL features by that same quantity against a "
    "training label in one pass) as a corpus-curation "
    "readout (which metadata facet PREDICTS long documents: the "
    "feature a stratified sampler should key on): each document "
    "unpivots to (feature, value) rows via stack (a generator, no "
    "shuffle), label co-counts fold to |values|×2 exact integers, "
    "n_v attaches as a window over that AGGREGATE, and H(label) − "
    "H(label|feature) assembles from Σ (n_vc/N)·ln(n_v/n_vc) — every "
    "ln argument an exact integer ratio, summed over ≤2·|values| "
    "bounded terms at the 1e-6 grain.",
)
def x229(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    feat = docs.selectExpr(
        "CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS label",
        "stack(3, 'lang', lang, 'source', source, "
        "'len_bucket', CAST(n_chars DIV 200 AS STRING)) "
        "AS (feature, val)",
    )
    vc = feat.groupBy("feature", "val", "label").agg(
        F.count(F.lit(1)).alias("n_vc")
    )
    v = vc.withColumn(
        "n_v", F.sum("n_vc").over(Window.partitionBy("feature", "val"))
    )
    lab = docs.agg(
        F.sum(F.when(F.col("n_chars") > 300, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("n_chars") > 300, 0).otherwise(1)).alias("n0"),
        F.count(F.lit(1)).alias("nn"),
    )
    j = v.crossJoin(F.broadcast(lab))
    nn = F.col("nn").cast("double")
    h_label = -(F.col("n1") / nn) * F.log(F.col("n1") / nn) - (
        F.col("n0") / nn
    ) * F.log(F.col("n0") / nn)
    return (
        j.groupBy("feature", "n1", "n0", "nn")
        .agg(
            F.countDistinct("val").cast("bigint").alias("n_values"),
            F.sum(
                (F.col("n_vc") / nn)
                * F.log(F.col("n_v") / F.col("n_vc").cast("double"))
            ).alias("h_cond_raw"),
        )
        .select(
            "feature",
            "n_values",
            F.round(h_label + F.lit(0.0), 6).alias("h_label"),
            F.round(F.col("h_cond_raw") + F.lit(0.0), 6).alias("h_cond"),
            F.round(
                h_label - F.col("h_cond_raw") + F.lit(0.0), 6
            ).alias("info_gain"),
        )
        .orderBy("feature")
    )


@_q(
    "x230_zorder_lifecycle",
    """WITH base AS (
         SELECT l_partkey AS pk, l_suppkey AS sk,
                CAST(l_quantity AS BIGINT) AS qty
         FROM lineitem WHERE l_orderkey % 7 = 0
       )
       SELECT CAST(pk % 10 AS BIGINT) AS pk_digit,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(qty) AS BIGINT) AS sum_qty,
              CAST(1 AS BIGINT) AS buckets_ok,
              CAST(1 AS BIGINT) AS pruned_on_pk,
              CAST(1 AS BIGINT) AS pruned_on_sk,
              CAST(1 AS BIGINT) AS scan_exact
       FROM base GROUP BY 1 ORDER BY 1""",
    doc="OPTIMIZE ZORDER BY certified end to end "
    "(snapshots.py:optimize_table(zorder_by) — Delta/Iceberg "
    "multi-dimensional clustering at directory granularity): the "
    "engine snapshots a lineitem slice, Z-orders it on (partkey, "
    "suppkey) into 8 per-bucket manifest directories (ONE write job, "
    "bucketed by the Morton key's range), and proves the layout "
    "contract: every bucket carries [min,max] stats for BOTH cluster "
    "columns, a tight range predicate on EITHER column prunes at "
    "least one bucket via scan_snapshot's manifest-level skipping, "
    "and the pruned scan returns EXACTLY the rows the unpruned "
    "predicate does (skipping is an optimization contract, never a "
    "filter). The post-optimize head, aggregated by partkey digit, "
    "must equal the oracle's direct reconstruction — the rewrite is "
    "content-preserving. Lakehouse-certification tier (tempdir "
    "commits, bounded driver folds).",
)
def x230(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from deepcell_data_engineering_spark.sources import snapshots as snap

    base = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_orderkey") % 7 == 0
    ).select(
        F.col("l_partkey").cast("bigint").alias("pk"),
        F.col("l_suppkey").cast("bigint").alias("sk"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    root = tempfile.mkdtemp(prefix="dde_zorder_")
    pruned = {"pk": 0, "sk": 0}
    scan_exact = 1
    try:
        t = f"{root}/t"
        snap.commit(spark, base.repartition(4), t, mode="overwrite")
        v = snap.optimize_table(
            spark, t, zorder_by=["pk", "sk"], zorder_buckets=8
        )
        m = snap._load_manifest(t, v, snap._POSIX)
        n_dirs = len(m["dirs"])
        for col in ("pk", "sk"):
            vals = [s[col] for s in m["stats"].values() if col in s]
            lo = min(v0 for v0, _ in vals)
            bound = (lo, lo + 2)
            if len(snap._prune_dirs(m, {col: bound})) < n_dirs:
                pruned[col] = 1
            got = (
                snap.scan_snapshot(spark, t, {col: bound})
                .where(F.col(col).between(*bound))
                .count()
            )
            want = (
                snap.read_snapshot(spark, t)
                .where(F.col(col).between(*bound))
                .count()
            )
            if got != want:
                scan_exact = 0
        agg = (
            snap.read_snapshot(spark, t)
            .groupBy((F.col("pk") % 10).cast("bigint").alias("pk_digit"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("qty").cast("bigint").alias("sum_qty"),
            )
        )
        rows = [
            (r["pk_digit"], r["n_rows"], r["sum_qty"])
            for r in agg.collect()
        ]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return (
        local_frame(
            spark, rows, "pk_digit BIGINT, n_rows BIGINT, sum_qty BIGINT"
        )
        .withColumn(
            "buckets_ok", F.lit(int(1 < n_dirs <= 8)).cast("bigint")
        )
        .withColumn("pruned_on_pk", F.lit(pruned["pk"]).cast("bigint"))
        .withColumn("pruned_on_sk", F.lit(pruned["sk"]).cast("bigint"))
        .withColumn("scan_exact", F.lit(scan_exact).cast("bigint"))
        .orderBy("pk_digit")
    )


@_q(
    "x231_spearman_rank_corr",
    r"""WITH d AS (
         SELECT lang, doc_id, n_chars,
                len(regexp_split_to_array(trim(text), '\s+')) AS n_tok
         FROM documents
       ),
       r AS (
         SELECT lang,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_chars, doc_id) AS rx,
                ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY n_tok, doc_id) AS ry
         FROM d
       ),
       m AS (
         SELECT lang, COUNT(*) AS n, SUM(rx * ry) AS sxy,
                SUM(rx) AS sx, SUM(rx * rx) AS sxx
         FROM r GROUP BY 1
       )
       SELECT lang, CAST(n AS BIGINT) AS n_docs,
              ROUND((n * sxy - sx * sx) * 1.0
                    / (n * sxx - sx * sx) + 0.0, 6) AS spearman
       FROM m ORDER BY lang""",
    doc="Spearman rank correlation between character length and token "
    "count per language — the monotone-association readout of the "
    "stats family (Pearson on moments exists in the d-tier; this "
    "ranks, so outliers and nonlinearity don't distort): both rank "
    "columns are ROW_NUMBER windows PARTITIONED by language in "
    "deterministic (value, doc_id) total order (distinct-rank "
    "convention, tie order pinned identically in both engines), and "
    "since each rank column is the permutation 1..n, Σr = Σr² are "
    "CLOSED-FORM equal for x and y — Spearman reduces to "
    "(n·Σrxry − (Σr)²)/(n·Σr² − (Σr)²), exact BIGINT until the one "
    "rounded division. One shuffle per rank window, both on the "
    "same lang key.",
)
def x231(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "doc_id",
        "n_chars",
        tx.token_count(F.col("text")).alias("n_tok"),
    )
    r = d.select(
        "lang",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n_chars", "doc_id"))
        .alias("rx"),
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("n_tok", "doc_id"))
        .alias("ry"),
    )
    m = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum("rx").alias("sx"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
    )
    n = F.col("n")
    num = n * F.col("sxy") - F.col("sx") * F.col("sx")
    den = n * F.col("sxx") - F.col("sx") * F.col("sx")
    return m.select(
        "lang",
        n.cast("bigint").alias("n_docs"),
        F.round(num / den.cast("double") + F.lit(0.0), 6).alias(
            "spearman"
        ),
    ).orderBy("lang")


@_q(
    "x232_dow_seasonality",
    """WITH daily AS (
         SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS c,
                SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT))
                  AS cents
         FROM orders GROUP BY 1
       ),
       dow AS (
         SELECT dayofweek(d) AS dw, COUNT(*) AS days,
                SUM(c) AS orders_, SUM(cents) AS cents
         FROM daily GROUP BY 1
       ),
       t AS (
         SELECT SUM(days) AS td, SUM(orders_) AS tc, SUM(cents) AS ts
         FROM dow
       )
       SELECT CAST(dw AS BIGINT) AS dow,
              CAST(days AS BIGINT) AS n_days,
              CAST(orders_ AS BIGINT) AS n_orders,
              ROUND(orders_ * 1.0 * td / (days * 1.0 * tc) + 0.0, 6)
                AS order_index,
              ROUND(cents * 1.0 * td / (days * 1.0 * ts) + 0.0, 6)
                AS revenue_index
       FROM dow CROSS JOIN t ORDER BY dow""",
    doc="Day-of-week seasonality indices of order volume and revenue — "
    "the calendar-profile companion to x221's ACF (ACF says lag-7 "
    "memory exists; this names the weekday shape): the per-day "
    "aggregate folds to 7 day-of-week rows (observed-day counts keep "
    "sparse calendars honest), and each index is the EXACT-integer "
    "cross ratio (c_dw·D)/(d_dw·C) — per-day mean over grand per-day "
    "mean — with one rounded division per measure. Day-of-week "
    "numbering pinned to Sunday=0 in both engines (Spark's "
    "dayofweek()−1 == DuckDB's dayofweek()). Two cheap shuffles "
    "(per-day, then 7-row); totals attach as a 1-row broadcast.",
)
def x232(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(
                F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
            ).alias("cents"),
        )
    )
    dow = daily.groupBy(
        (F.dayofweek("d") - 1).cast("bigint").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("days"),
        F.sum("c").alias("orders_"),
        F.sum("cents").alias("cents"),
    )
    t = dow.agg(
        F.sum("days").alias("td"),
        F.sum("orders_").alias("tc"),
        F.sum("cents").alias("ts"),
    )
    j = dow.crossJoin(F.broadcast(t))
    return j.select(
        "dow",
        F.col("days").cast("bigint").alias("n_days"),
        F.col("orders_").cast("bigint").alias("n_orders"),
        F.round(
            (F.col("orders_") * F.col("td"))
            / (F.col("days").cast("double") * F.col("tc"))
            + F.lit(0.0),
            6,
        ).alias("order_index"),
        F.round(
            (F.col("cents") * F.col("td"))
            / (F.col("days").cast("double") * F.col("ts"))
            + F.lit(0.0),
            6,
        ).alias("revenue_index"),
    ).orderBy("dow")


@_q(
    "x233_capture_recapture",
    """WITH v AS (
         SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
       ),
       c AS (
         SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
       ),
       m AS (
         SELECT (SELECT COUNT(*) FROM v) AS n1,
                (SELECT COUNT(*) FROM c) AS n2,
                (SELECT COUNT(*) FROM v JOIN c USING (user_id)) AS m12,
                (SELECT COUNT(DISTINCT user_id) FROM events) AS seen
       )
       SELECT CAST(n1 AS BIGINT) AS n_view_users,
              CAST(n2 AS BIGINT) AS n_click_users,
              CAST(m12 AS BIGINT) AS n_both,
              CAST(seen AS BIGINT) AS n_seen_any,
              ROUND(n1 * 1.0 * n2 / m12 + 0.0, 4) AS lincoln_petersen,
              ROUND((n1 + 1.0) * (n2 + 1.0) / (m12 + 1.0) - 1.0
                    + 0.0, 4) AS chapman
       FROM m""",
    doc="Capture-recapture population estimate from two behavioral "
    "'samples' (viewers vs clickers) — the coverage diagnostic a "
    "dedup/crawl pipeline uses to estimate how many entities its "
    "passes HAVEN'T seen (x45 calibrates MinHash against truth; this "
    "estimates the truth it can't see): Lincoln-Petersen N̂ = "
    "n₁n₂/m and the small-sample Chapman corrector, both EXACT "
    "integer counts (two distinct-user sets, their semi-join "
    "overlap) until the one rounded division; n_seen_any rides "
    "along, so the implied unseen mass is N̂ − seen. Three "
    "count-distincts share the events scan; the overlap is a "
    "semi-join on user_id.",
)
def x233(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .select("user_id")
        .distinct()
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .select("user_id")
        .distinct()
    )
    both = v.join(c, "user_id", "semi")
    m = (
        v.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(both.agg(F.count(F.lit(1)).alias("m12")))
        .crossJoin(
            ev.agg(F.countDistinct("user_id").alias("seen"))
        )
    )
    n1 = F.col("n1").cast("double")
    n2 = F.col("n2").cast("double")
    m12 = F.col("m12").cast("double")
    return m.select(
        F.col("n1").cast("bigint").alias("n_view_users"),
        F.col("n2").cast("bigint").alias("n_click_users"),
        F.col("m12").cast("bigint").alias("n_both"),
        F.col("seen").cast("bigint").alias("n_seen_any"),
        F.round(n1 * n2 / m12 + F.lit(0.0), 4).alias(
            "lincoln_petersen"
        ),
        F.round(
            (n1 + 1) * (n2 + 1) / (m12 + 1) - 1 + F.lit(0.0), 4
        ).alias("chapman"),
    )
