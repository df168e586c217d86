"""DuckDB references for the vector and text kernel tests.

Each helper runs, on the rows of the Spark DataFrame under test, the
SQL shape the registry oracles use (``__spark_entry__._SQL_COS``: the
cosine rounded to 6 dp before a threshold or a (cosine desc, id asc)
rank), and returns the result as ``tools.check_oracle.normalize``
does, so a test compares two multisets with ``==``. A row whose
vector is NULL or has zero norm has no cosine; every vector reference
drops it first. Bucket ids come in as a column (``lsh_bucket_col``),
so the reference checks the pair and neighbour rules, not the
hyperplane hashing.
"""

from __future__ import annotations

import duckdb

import __spark_entry__ as entry
from tools.check_oracle import normalize


def spark_rows(df):
    return normalize(df.toPandas())


def with_bucket(df, dims: int, n_planes: int, seed: int):
    """``df`` plus the ``bucket`` column the LSH kernels hash
    ``embedding`` into, for the references that take it as input."""
    from bytewax_spark.functions.similarity import lsh_bucket_col

    return df.withColumn("bucket", lsh_bucket_col("embedding", n_planes, dims, seed))


def _run(sql: str, **tables):
    con = duckdb.connect()
    for name, df in tables.items():
        con.register(name, df.toArrow())
    return normalize(con.execute(sql).fetchdf())


def _cos(a: str, b: str) -> str:
    return f"ROUND({entry._SQL_COS.format(a=a, b=b)}, 6)"


def _vectors(id_col: str, vec_col: str, *extra: str, table: str = "src") -> str:
    """``SELECT id, v, extra...`` over the rows that have a cosine."""
    cols = "".join(f", {c}" for c in extra)
    return (
        f"SELECT {id_col} AS id, {vec_col} AS v{cols} FROM {table} "
        f"WHERE {vec_col} IS NOT NULL "
        f"AND list_sum(list_transform({vec_col}::DOUBLE[], x -> x * x)) > 0"
    )


def embedding_pairs(df, vec_col, id_col, block_col, threshold):
    """``dedup.embedding_cosine_pairs``: in-block id_a < id_b pairs."""
    return _run(
        f"""
        WITH t AS ({_vectors(id_col, vec_col, f"{block_col} AS blk")})
        SELECT a.id AS id_a, b.id AS id_b, {_cos("a.v", "b.v")} AS cosine
        FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
        WHERE {_cos("a.v", "b.v")} >= {threshold}
        """,
        src=df,
    )


def multiprobe_pairs(df, vec_col, id_col, bucket_col, threshold):
    """``dedup.lsh_cosine_pairs(multiprobe=1)``: pairs whose buckets
    differ in at most one bit (the registry oracle's rule)."""
    return _run(
        f"""
        WITH t AS ({_vectors(id_col, vec_col, f"{bucket_col} AS b")})
        SELECT a.id AS id_a, c.id AS id_b, {_cos("a.v", "c.v")} AS cosine
        FROM t a JOIN t c ON bit_count(xor(a.b, c.b)) <= 1 AND a.id < c.id
        WHERE {_cos("a.v", "c.v")} >= {threshold}
        """,
        src=df,
    )


def topk_batch(df, vec_col, id_col, probes, probe_id_col, probe_vec_col, k,
               exclude_same_id):
    """``similarity.cosine_topk_batch``: per-probe top k."""
    skip_self = "WHERE p.id <> e.id" if exclude_same_id else ""
    return _run(
        f"""
        WITH e AS ({_vectors(id_col, vec_col)}),
        p AS ({_vectors(probe_id_col, probe_vec_col, table="probes")}),
        scored AS (
          SELECT p.id AS probe_id, e.id AS {id_col}, {_cos("e.v", "p.v")} AS cosine
          FROM e CROSS JOIN p {skip_self}
        )
        SELECT probe_id, {id_col}, cosine FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY cosine DESC, {id_col}) AS rk
          FROM scored
        ) WHERE rk <= {k}
        """,
        src=df,
        probes=probes,
    )


def _agreement(cand: str, id_col: str, label_col: str, k: int) -> str:
    """The registry oracle's verdict over ``cand``'s
    ``(probe_id, plab, nid, nlab, cosine)`` rows: a NULL label never
    agrees (``CASE WHEN nlab = plab``)."""
    return f"""
        WITH cand AS ({cand}),
        top AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                                       ORDER BY cosine DESC, nid) AS rk
          FROM cand
        )
        SELECT probe_id AS {id_col}, plab AS {label_col}, COUNT(*) AS n_nbrs,
               CAST(SUM(CASE WHEN nlab = plab THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_same,
               CAST((SUM(CASE WHEN nlab = plab THEN 1 ELSE 0 END) * 1000000)
                    // COUNT(*) AS BIGINT) AS agree_ppm
        FROM top WHERE rk <= {k}
        GROUP BY 1, 2
        """


def knn_agreement(df, vec_col, id_col, label_col, probes, k):
    """``similarity.knn_label_agreement``: each probe's k nearest
    other rows of ``df`` (the shape of the registry oracle)."""
    return _run(
        _agreement(
            f"""
            WITH e AS ({_vectors(id_col, vec_col, f"{label_col} AS lab")}),
            p AS ({_vectors(id_col, vec_col, f"{label_col} AS lab", table="probes")})
            SELECT p.id AS probe_id, p.lab AS plab, e.id AS nid, e.lab AS nlab,
                   {_cos("e.v", "p.v")} AS cosine
            FROM e CROSS JOIN p WHERE p.id <> e.id
            """,
            id_col, label_col, k,
        ),
        src=df,
        probes=probes,
    )


def knn_lsh(df, vec_col, id_col, label_col, bucket_col, k):
    """``similarity.knn_label_agreement_lsh``: each row's k nearest
    other rows in its bucket (the shape of ``_knn_lsh_oracle``)."""
    return _run(
        _agreement(
            f"""
            WITH b AS ({_vectors(id_col, vec_col, f"{label_col} AS lab",
                                 f"{bucket_col} AS bucket")})
            SELECT p.id AS probe_id, p.lab AS plab, e.id AS nid, e.lab AS nlab,
                   {_cos("e.v", "p.v")} AS cosine
            FROM b p JOIN b e ON p.bucket = e.bucket AND p.id <> e.id
            """,
            id_col, label_col, k,
        ),
        src=df,
    )


def winnow(df):
    """``text.winnow_fingerprints(k=5, window=4)`` on ``(doc_id, text)``
    rows: the registry's own oracle SQL, run over ``df``."""
    return _run(entry.oracle_sql()["winnow_fingerprints_docs"], documents=df)
