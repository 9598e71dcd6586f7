"""Shared DuckDB-SQL fragment generators for the dedup/similarity oracles.

The oracle strings are built programmatically (deterministically, at import
time) so the Spark operators and the SQL stay structurally in lockstep:
same md5 seeds, same band layout, same bit counts.
"""

from __future__ import annotations


def shingle_cte(n: int = 3) -> str:
    """CTEs tok/sh: distinct word n-gram shingles per doc_id (1-based lists)."""
    parts = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return f"""
    tok AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, {parts} AS shingle
      FROM tok, UNNEST(generate_series(1, len(w) - {n - 1})) AS t(i)
      WHERE len(w) >= {n})
    """


def minhash_km_select(num_hashes: int) -> str:
    """Kirsch-Mitzenmacher signature: one md5 → two 32-bit ints → k derived
    hashes (mirrors the pandas kernel
    operators.dedup.minhash_signature_pandas)."""
    cols = ",\n             ".join(
        f"min((h1 + {k} * h2) % 4294967296) AS h{k}" for k in range(num_hashes)
    )
    return f"""SELECT doc_id, {cols} FROM (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS h2
      FROM sh) base GROUP BY doc_id"""


def band_int_exprs(bands: int, rows_per_band: int) -> list[str]:
    out = []
    for j in range(bands):
        rows = " || '|' || ".join(
            f"CAST(h{j * rows_per_band + r} AS VARCHAR)" for r in range(rows_per_band)
        )
        out.append(f"SELECT doc_id, {j} AS band_id, md5({rows}) AS band_key FROM sig")
    return out


def simhash_base_int(bits: int, feature: str = "shingle") -> str:
    """Parse md5 hex into 8-digit ints (mirrors the pandas kernel
    operators.dedup.simhash_signature_int_pandas)."""
    n_words = (bits + 7) // 8
    cols = ", ".join(
        f"('0x' || substr(md5({feature}), {8 * g + 1}, 8))::BIGINT AS w{g}"
        for g in range(n_words)
    )
    return f"SELECT doc_id, {cols} FROM sh"


def simhash_sum_cols_int(bits: int) -> str:
    out = []
    for b in range(1, bits + 1):
        g = (b - 1) // 8
        off = 4 * (7 - ((b - 1) % 8))
        out.append(f"sum(2 * ((w{g} >> {off}) & 1) - 1) AS s{b}")
    return ",\n             ".join(out)


def simhash_sig_int_expr(bits: int) -> str:
    """BIGINT signature: MSB-first majority bits (mirrors the pandas kernel
    operators.dedup.simhash_signature_int_pandas)."""
    return " + ".join(
        f"(CASE WHEN s{b} >= 0 THEN CAST({1 << (bits - b)} AS BIGINT) ELSE 0 END)"
        for b in range(1, bits + 1)
    )


def simhash_band_int_selects(bits: int, bands: int) -> list[str]:
    width = bits // bands
    mask = (1 << width) - 1
    return [
        f"SELECT doc_id, {j} AS band_id, (sig >> {(bands - 1 - j) * width}) & {mask} AS band_key FROM sigs"
        for j in range(bands)
    ]
