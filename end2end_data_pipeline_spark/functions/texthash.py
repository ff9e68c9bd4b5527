"""Portable hashing / shingling expression builders.

The driver's correctness gate runs every query twice — once through
Spark, once through DuckDB — and value-hashes the results. Anything
involving hashes must therefore produce IDENTICAL integers in both
engines. Spark's ``hash()`` (Murmur3 with Spark's seed) and DuckDB's
``hash()`` differ, so the engine standardizes on a *portable* 60-bit
hash both engines compute the same way:

    md5(s) -> first 15 hex digits -> integer (< 2^60, fits BIGINT)

Spark:  ``CAST(conv(substr(md5(s),1,15),16,10) AS BIGINT)``
DuckDB: ``(('0x' || substr(md5(s),1,15))::BIGINT)``

Verified equal (both yield 419982666956583591 for 'hello').

At 100 TB this stays fully distributed and JVM-side in Spark (md5 and
conv are codegen'd built-ins); the DuckDB form exists only for the
oracle. Builders emit both dialects from one code path so the two can
never drift.

MinHash/SimHash background: standard constructions (Broder 1997;
Charikar 2002) over word shingles, with the k independent hash
functions realized as salted portable hashes ``h_j(s) = H(j || ':' || s)``.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"

# modulus keeping salted token hashes small enough that weighted sums
# over a document stay far from BIGINT overflow
TOKEN_MOD = 1_000_003
FINGERPRINT_MOD = 2_147_483_647


def md5h(expr: str, dialect: str) -> str:
    """Portable 60-bit hash of a string expression."""
    if dialect == SPARK:
        return f"CAST(conv(substr(md5({expr}),1,15),16,10) AS BIGINT)"
    return f"(('0x' || substr(md5({expr}),1,15))::BIGINT)"


def salted_md5h(salt: int, expr: str, dialect: str) -> str:
    """j-th independent hash: H(j || ':' || s)."""
    return md5h(f"concat('{salt}:', {expr})", dialect)


def tokens(text_expr: str, dialect: str) -> str:
    """Whitespace tokenization (documents are single-space separated)."""
    if dialect == SPARK:
        return f"split({text_expr}, ' ')"
    return f"string_split({text_expr}, ' ')"


def shingles(toks_expr: str, n: int, dialect: str) -> str:
    """Word n-gram shingles as space-joined strings.

    Spark arrays are 1-based via element_at/slice; DuckDB lists are
    1-based via [] — both builders emit 1-based windows.
    """
    if dialect == SPARK:
        return (
            f"CASE WHEN size({toks_expr}) >= {n} THEN "
            f"transform(sequence(1, size({toks_expr}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({toks_expr}, i, {n}))) "
            f"ELSE array() END"
        )
    joined = " || ' ' || ".join(f"({toks_expr})[i + {k}]" for k in range(n))
    return f"list_transform(range(1, len({toks_expr}) - {n - 2}), i -> {joined})"


# Universal-hash family for fast k-MinHash (Carter-Wegman):
# h_j(x) = (a_j * x + b_j) mod P over base hashes x < 2^30.
# a_j, b_j are fixed pseudo-random constants derived from md5 in Python
# (hashlib md5 == engine md5 by definition), embedded as literals so
# both dialects share them exactly. a_j * x < 2^60 — no BIGINT overflow.
MINHASH_P = 1_073_741_789  # largest prime < 2^30
BASE_MOD = 1 << 30


def _py_md5_int(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def affine_coeffs(k: int) -> list[tuple[int, int]]:
    """(a_j, b_j) for j in 0..k-1, a_j != 0."""
    out = []
    for j in range(k):
        a = _py_md5_int(f"minhash_a_{j}") % (MINHASH_P - 1) + 1
        b = _py_md5_int(f"minhash_b_{j}") % MINHASH_P
        out.append((a, b))
    return out


def base_hashes(shingles_expr: str, dialect: str) -> str:
    """Portable base hash per shingle, reduced below 2^30 for the
    affine family."""
    h = f"({md5h('s', dialect)} % {BASE_MOD})"
    if dialect == SPARK:
        return f"transform({shingles_expr}, s -> {h})"
    return f"list_transform({shingles_expr}, s -> {h})"


def minhash_affine(hashes_expr: str, a: int, b: int, dialect: str) -> str:
    """MinHash over pre-hashed shingles: min_j of (a*h_j + b) mod P."""
    t = f"({a} * h + {b}) % {MINHASH_P}"
    if dialect == SPARK:
        return f"array_min(transform({hashes_expr}, h -> {t}))"
    return f"list_min(list_transform({hashes_expr}, h -> {t}))"


def reduced_token_hashes(toks_expr: str, dialect: str) -> str:
    """Per-token portable hash reduced < 2^30 (the base-hash domain of
    the affine MinHash family and the shingle combiner). Project this
    ONCE into its own column — the combiner references that column
    several times, and a separate projection keeps the md5 pass from
    being textually inlined (and re-evaluated) per reference."""
    h = f"({md5h('t', dialect)} % {BASE_MOD})"
    if dialect == SPARK:
        return f"transform({toks_expr}, t -> {h})"
    return f"list_transform({toks_expr}, t -> {h})"


def shingle_coeffs(n: int) -> list[int]:
    """Fixed md5-derived combination constants shared by
    ``shingle_combine`` and ``shingle_hashes_pos`` (and any replay
    test that re-derives shingle hashes in pure Python)."""
    assert n <= 4, "combination overflows int64 beyond n=4"
    return [_py_md5_int(f"shingle_c_{k}") % BASE_MOD for k in range(n)]


def shingle_combine(th_col: str, n: int, dialect: str) -> str:
    """Distinct hashed word-n-gram shingles WITHOUT materializing
    shingle strings: each shingle's hash is an affine combination of
    its n consecutive token hashes (``th_col`` = a column built by
    ``reduced_token_hashes``) mod MINHASH_P — pure integer math, no
    string concat, no second md5 pass. ~4.5x faster than hashing
    string shingles; collision probability per pair ~|shingles|/2^30,
    immaterial for dedup.

    Combination constants are md5-derived literals shared by both
    dialects. Overflow-safe: n terms of (c < 2^30) * (h < 2^30) sum
    below n * 2^62 for n <= 4.
    """
    cs = shingle_coeffs(n)
    if dialect == SPARK:
        terms = " + ".join(
            f"{cs[k]}L * element_at({th_col}, i + {k})" for k in range(n)
        )
        return (
            f"CASE WHEN size({th_col}) >= {n} THEN "
            f"array_distinct(transform(sequence(1, size({th_col}) - {n - 1}), "
            f"i -> ({terms}) % {MINHASH_P})) "
            f"ELSE array() END"
        )
    terms = " + ".join(f"{cs[k]} * {th_col}[i + {k}]" for k in range(n))
    return (
        f"list_distinct(list_transform(range(1, len({th_col}) - {n - 2}), "
        f"i -> ({terms}) % {MINHASH_P}))"
    )


def shingle_hashes_pos(th_col: str, n: int, dialect: str) -> str:
    """Positional (non-distinct) hashed word-n-gram shingles: element
    i of the result (1-based) is the affine-combined hash of the
    n-gram starting at token i. Same constants and modulus as
    ``shingle_combine``, WITHOUT the distinct — multiset consumers
    (repeated-span coverage, hashed-n-gram bucket counts) must see
    every occurrence, and positional consumers rely on index == start
    position."""
    cs = shingle_coeffs(n)
    if dialect == SPARK:
        terms = " + ".join(
            f"{cs[k]}L * element_at({th_col}, i + {k})" for k in range(n)
        )
        return (
            f"CASE WHEN size({th_col}) >= {n} THEN "
            f"transform(sequence(1, size({th_col}) - {n - 1}), "
            f"i -> ({terms}) % {MINHASH_P}) "
            f"ELSE array() END"
        )
    terms = " + ".join(f"{cs[k]} * {th_col}[i + {k}]" for k in range(n))
    # CASE mirrors the Spark branch for NULL input (size(NULL) >= n is
    # NULL -> ELSE []), where a bare list_transform would return NULL
    return (
        f"CASE WHEN len({th_col}) >= {n} THEN "
        f"list_transform(range(1, len({th_col}) - {n - 2}), "
        f"i -> ({terms}) % {MINHASH_P}) "
        f"ELSE []::BIGINT[] END"
    )


def token_hashes(toks_expr: str, dialect: str, mod: int | None = None) -> str:
    """Per-token portable hashes, optionally reduced mod ``mod``.

    Pass a modulus only when the hashes feed weighted sums that must
    stay clear of BIGINT overflow (fingerprints); leave it None for
    bit-level uses (SimHash votes need the full hash width — a reduced
    hash zeroes the high bits and degrades every signature bit above
    log2(mod)).
    """
    h = md5h("t", dialect)
    if mod is not None:
        h = f"({h} % {mod})"
    if dialect == SPARK:
        return f"transform({toks_expr}, t -> {h})"
    return f"list_transform({toks_expr}, t -> {h})"


def simhash(hashes_expr: str, bits: int, dialect: str) -> str:
    """SimHash over pre-hashed tokens: per-bit +1/-1 vote, ties -> 0."""
    terms = []
    for b in range(bits):
        vote = f"CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END"
        if dialect == SPARK:
            s = (
                f"aggregate({hashes_expr}, 0L, "
                f"(acc, h) -> acc + CAST({vote} AS BIGINT))"
            )
        else:
            s = f"list_sum(list_transform({hashes_expr}, h -> {vote}))"
        terms.append(f"(CASE WHEN ({s}) > 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def fingerprint(toks_expr: str, dialect: str) -> str:
    """Position-weighted polynomial fingerprint:
    (sum_i i * (H(tok_i) % TOKEN_MOD)) % FINGERPRINT_MOD, i 1-based.
    Order-sensitive (a permuted document fingerprints differently) yet
    expressible as an exact-integer sum in both engines.
    """
    h = f"({md5h('t', dialect)} % {TOKEN_MOD})"
    if dialect == SPARK:
        body = (
            f"aggregate(zip_with({toks_expr}, "
            f"sequence(1, size({toks_expr})), "
            f"(t, i) -> CAST(i AS BIGINT) * {h}), "
            f"0L, (acc, v) -> acc + v)"
        )
    else:
        h_i = f"({md5h(f'({toks_expr})[i]', dialect)} % {TOKEN_MOD})"
        body = (
            f"list_sum(list_transform(range(1, len({toks_expr}) + 1), "
            f"i -> CAST(i AS BIGINT) * {h_i}))"
        )
    return f"(({body}) % {FINGERPRINT_MOD})"
