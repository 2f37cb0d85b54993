"""Scalar function library.

Cross-engine-deterministic primitives shared by the operator layer.

The reference engine hashes with xxhash64 (Go ``cespare/xxhash``, seed 0) for
series ids and shard routing (reference ``model/message.go:174-209``,
``task/sharding.go:91-98``).  Spark's builtin ``xxhash64`` hashes the
*Spark-serialized* value with seed 42, so it is not byte-identical to the Go
hash and not reproducible in DuckDB either.  Because this engine's correctness
gate is a DuckDB oracle, every hash that feeds a correctness-checked result
uses ``portable_hash64`` below: the top 60 bits of md5, which both engines
compute identically (md5 is byte-stable everywhere).  At 100 TB scale md5 is
computed JVM-side (whole-stage codegen'd) — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# portable 60-bit hash: identical in Spark SQL and DuckDB SQL
# --------------------------------------------------------------------------


def portable_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash of a string column, JVM-side.

    Spark:  cast(conv(substr(md5(x), 1, 15), 16, 10) as bigint)
    DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def portable_hash64_sql(expr: str) -> str:
    """DuckDB-SQL rendering of :func:`portable_hash64` over ``expr``."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


# --------------------------------------------------------------------------
# sharding expressions (reference task/sharding.go:51-101)
# --------------------------------------------------------------------------


def shard_stripe(col: Column | str, stripe: int, shards: int) -> Column:
    """Stripe sharding: ``(value / stripe) % shards``.

    Reference ``task/sharding.go:62-76`` (policy ``stripe``): integral key
    divided by a stripe width, modulo shard count.  Pure column arithmetic —
    no shuffle; the sinks route each row to the shard it evaluates to.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("bigint") / F.lit(int(stripe))).cast("bigint") % F.lit(int(shards))


def shard_hash(col: Column | str, shards: int) -> Column:
    """Hash sharding: ``portable_hash64(string(value)) % shards``.

    Reference ``task/sharding.go:91-98`` uses xxhash64; we use the portable
    md5-based hash (see module docstring) so shard assignment is reproducible
    in the DuckDB oracle and across engine versions.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(portable_hash64(c.cast("string")), F.lit(int(shards)))


# --------------------------------------------------------------------------
# vector math (embedding columns, array<float>)
# --------------------------------------------------------------------------


def dot(a: Column | str, b: Column | str) -> Column:
    """Dot product of two array<numeric> columns, JVM-side.

    ``zip_with`` + ``aggregate`` stays inside Catalyst (no Python), folds
    left-to-right in index order — deterministic across runs and engines.
    """
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column | str) -> Column:
    """L2 norm of an array<numeric> column."""
    ca = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(
            F.transform(ca, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<numeric> columns."""
    return dot(a, b) / (norm(a) * norm(b))


# --------------------------------------------------------------------------
# text shingles
# --------------------------------------------------------------------------


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column.

    Built from ``split`` + ``sequence`` + ``transform`` — all Catalyst
    expressions, no UDF.  Returns array<string> (distinct, order not
    significant; callers explode it).
    """
    c = F.col(text) if isinstance(text, str) else text
    words = F.split(c, r"\s+")
    n = F.size(words)
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                F.sequence(F.lit(0), n - k),
                lambda i: F.concat_ws(
                    " ", F.slice(words, i + 1, k)
                ),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))
    )


def word_shingles_sql(doc_table: str, id_col: str, text_col: str, k: int = 3) -> str:
    """DuckDB CTE body producing (id, shingle) distinct pairs.

    Mirrors :func:`word_shingles`: split on whitespace, join k consecutive
    words with a single space.
    """
    return f"""
        SELECT DISTINCT {id_col} AS doc_id,
               array_to_string(w[i + 1 : i + {k}], ' ') AS shingle
        FROM (
            SELECT {id_col}, regexp_split_to_array({text_col}, '[ \\t\\n\\x0b\\f\\r]+') AS w
            FROM {doc_table}
        ), LATERAL (
            SELECT unnest(
                CASE WHEN len(w) >= {k}
                     THEN range(0, len(w) - {k} + 1)
                     ELSE [0] END) AS i
        )
        """


# --------------------------------------------------------------------------
# fast double-array literals
# --------------------------------------------------------------------------


def lit_doubles(vals) -> Column:
    """Nested array<double> literal built via one SQL-parsed expression.

    ``F.lit(nested_list)`` converts element-by-element over Py4J — ~1 s
    per thousand elements of pure plan-CONSTRUCTION time, which dominated
    the ANN queries' wall clock (centroid matrices, PQ codebooks).  One
    ``F.expr`` string parses server-side in ~3 ms at the same size.  The
    ``D`` suffix forces DOUBLE (bare ``1.0`` parses as DECIMAL), and
    ``repr`` round-trips doubles exactly, so the resulting literal is
    bit-identical to the ``F.lit`` it replaces (pinned in tests).
    """
    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        return repr(float(v)) + "D"

    return F.expr(render(vals))
