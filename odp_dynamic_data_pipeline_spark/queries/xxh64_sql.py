"""Spark ``xxhash64`` replayed as pure DuckDB SQL expressions.

Closes the last rows-only gap in the oracle registry (r10 verdict item
3): the xxhash64 production-path queries (``dedup_minhash_lsh``,
``dedup_simhash``) previously had no DuckDB oracle because DuckDB ships no xxhash64 -- so this module
implements XXH64 itself, as generated SQL, from the public spec (Yann
Collet's xxHash, the exact variant Apache Spark's
``catalyst.expressions.XxHash64`` evaluates: seed 42, little-endian
word reads, per-type dispatch hashInt/hashLong/hashUnsafeBytes, and
multi-argument chaining where each argument's hash seeds the next).

Verified three ways before use (tests/test_xxh64_sql.py):
  Spark xxhash64  ==  pure-Python reference  ==  generated DuckDB SQL
over strings (all length classes: empty, <8, <32, >=32 stripes,
multi-byte UTF-8), ints (incl. negative -> u32 masking), longs (incl.
negative -> u64 wrap), and the chained multi-argument forms the
queries actually use.

Representation: every intermediate is a HUGEINT in [0, 2^64).  64-bit
wrap-around multiply is decomposed as
``a*b mod 2^64 = a_lo*b_lo + 2^32*((a_lo*b_hi + a_hi*b_lo) mod 2^32)``
so no intermediate exceeds 2^65 (HUGEINT is signed 128-bit; a naive
u64*u64 would overflow it).  Rotations are shift-add pairs; xor runs in
UBIGINT (bit-correct for values < 2^64).  ``LET`` binds a subexpression
once via a single-element ``list_transform`` lambda, keeping generated
text LINEAR in the number of operations instead of exponential.

String bytes: ``hex(encode(s))`` then two hex digits per byte via the
``('0x' || ..)::UBIGINT`` cast; 8-byte little-endian words are built by
positional byte sums.  The three XXH64 loops (32-byte stripes with the
4-accumulator state, 8-byte words, tail bytes) run as ``list_reduce``
folds -- the accumulator for the stripe loop is a 4-element list.

Cost model: this is an ORACLE-side construct (correctness replay at
sf0.01/sf0.1), never a production path -- Spark evaluates its native
xxhash64; DuckDB evaluates this expression tree only to check Spark's
answers.
"""

from __future__ import annotations

import itertools

M64 = 1 << 64
P1 = 0x9E3779B185EBCA87
P2 = 0xC2B2AE3D27D4EB4F
P3 = 0x165667B19E3779F9
P4 = 0x85EBCA77C2B2AE63
P5 = 0x27D4EB2F165667C5

_ids = itertools.count()


# -- pure-Python reference (tests + constant folding of literal seeds) -----


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) % M64


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * P2) % M64
    h ^= h >> 29
    h = (h * P3) % M64
    h ^= h >> 32
    return h


def py_hash_int(i: int, seed: int) -> int:
    """XXH64 of one 4-byte int (Spark XxHash64 on IntegerType)."""
    h = (seed + P5 + 4) % M64
    h ^= ((i & 0xFFFFFFFF) * P1) % M64
    h = (_rotl(h, 23) * P2 + P3) % M64
    return _fmix(h)


def py_hash_long(x: int, seed: int) -> int:
    """XXH64 of one 8-byte long (Spark XxHash64 on LongType)."""
    h = (seed + P5 + 8) % M64
    h ^= (_rotl(((x % M64) * P2) % M64, 31) * P1) % M64
    h = (_rotl(h, 27) * P1 + P4) % M64
    return _fmix(h)


def py_hash_bytes(data: bytes, seed: int) -> int:
    """XXH64 of a byte string, little-endian word reads (Spark
    hashUnsafeBytes on UTF8String)."""
    length, off = len(data), 0
    if length >= 32:
        v = [(seed + P1 + P2) % M64, (seed + P2) % M64, seed % M64, (seed - P1) % M64]
        while off + 32 <= length:
            for i in range(4):
                w = int.from_bytes(data[off + 8 * i : off + 8 * i + 8], "little")
                v[i] = (_rotl((v[i] + w * P2) % M64, 31) * P1) % M64
            off += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) % M64
        for vi in v:
            h ^= (_rotl((vi * P2) % M64, 31) * P1) % M64
            h = (h * P1 + P4) % M64
    else:
        h = (seed + P5) % M64
    h = (h + length) % M64
    while off + 8 <= length:
        w = int.from_bytes(data[off : off + 8], "little")
        h ^= (_rotl((w * P2) % M64, 31) * P1) % M64
        h = (_rotl(h, 27) * P1 + P4) % M64
        off += 8
    if off + 4 <= length:
        w = int.from_bytes(data[off : off + 4], "little")
        h ^= (w * P1) % M64
        h = (_rotl(h, 23) * P2 + P3) % M64
        off += 4
    while off < length:
        h ^= (data[off] * P5) % M64
        h = (_rotl(h, 11) * P1) % M64
        off += 1
    return _fmix(h)


def to_signed(u: int) -> int:
    """u64 -> Spark's signed BIGINT result."""
    return u - M64 if u >= (1 << 63) else u


def py_xxhash64(args, seed: int = 42) -> int:
    """Spark ``xxhash64(*args)``: the hash of each argument seeds the
    next.  Args: str (UTF-8 bytes), ('int', i) 4-byte, ('long', x)
    8-byte; plain Python ints are treated as longs."""
    h = seed
    for a in args:
        if isinstance(a, str):
            h = py_hash_bytes(a.encode(), h)
        elif isinstance(a, tuple) and a[0] == "int":
            h = py_hash_int(a[1], h)
        else:
            x = a[1] if isinstance(a, tuple) else a
            h = py_hash_long(x, h)
    return to_signed(h)


# -- SQL generator ----------------------------------------------------------


def LET(val: str, body) -> str:
    """Bind ``val`` once as a lambda variable and build the body on the
    variable name -- the let-expression trick that keeps generated text
    linear (every helper below would otherwise duplicate its argument)."""
    v = f"__x{next(_ids)}"
    return f"list_transform([{val}], {v} -> {body(v)})[1]"


def MOD64(e: str) -> str:
    return f"(({e}) % 18446744073709551616::HUGEINT)"


def MUL(a: str, b: str) -> str:
    """(a*b) mod 2^64 via 32-bit limb split (see module docstring)."""

    def body(av):
        def body2(bv):
            alo, ahi = f"({av} % 4294967296::HUGEINT)", f"({av} // 4294967296::HUGEINT)"
            blo, bhi = f"({bv} % 4294967296::HUGEINT)", f"({bv} // 4294967296::HUGEINT)"
            cross = f"((({alo} * {bhi}) + ({ahi} * {blo})) % 4294967296::HUGEINT)"
            return MOD64(f"({alo} * {blo}) + ({cross} * 4294967296::HUGEINT)")

        return LET(b, body2)

    return LET(a, body)


def ADD(*es: str) -> str:
    return MOD64(" + ".join(f"({e})" for e in es))


def XOR(a: str, b: str) -> str:
    return f"xor(({a})::UBIGINT, ({b})::UBIGINT)::HUGEINT"


def SHR(e: str, r: int) -> str:
    return f"(({e}) // {1 << r}::HUGEINT)"


def ROTL(e: str, r: int) -> str:
    return LET(
        e,
        lambda v: MOD64(
            f"(({v}) * {1 << r}::HUGEINT) + (({v}) // {1 << (64 - r)}::HUGEINT)"
        ),
    )


def FMIX(e: str) -> str:
    s1 = LET(e, lambda h: XOR(h, SHR(h, 33)))
    s2 = MUL(s1, str(P2))
    s3 = LET(s2, lambda h: XOR(h, SHR(h, 29)))
    s4 = MUL(s3, str(P3))
    return LET(s4, lambda h: XOR(h, SHR(h, 32)))


def HASH_LONG(x: str, seed: str) -> str:
    """XXH64 step for one u64 word (exprs in [0, 2^64))."""
    k = LET(MUL(x, str(P2)), lambda v: MUL(ROTL(v, 31), str(P1)))
    h1 = LET(ADD(seed, str((P5 + 8) % M64)), lambda h: XOR(h, k))
    h2 = ADD(MUL(ROTL(h1, 27), str(P1)), str(P4))
    return FMIX(h2)


def HASH_INT(x: str, seed: str) -> str:
    """XXH64 step for one u32 value (expr reduced mod 2^32 here)."""
    h1 = LET(
        ADD(seed, str((P5 + 4) % M64)),
        lambda h: XOR(h, MUL(f"(({x}) % 4294967296::HUGEINT)", str(P1))),
    )
    h2 = ADD(MUL(ROTL(h1, 23), str(P2)), str(P3))
    return FMIX(h2)


def HASH_STR(s: str, seed: str) -> str:
    """XXH64 over the UTF-8 bytes of string expr ``s`` with seed expr
    ``seed`` (both SQL text).  Returns a HUGEINT expr in [0, 2^64).

    The seed is LET-bound FIRST: the body references it five times (four
    stripe-accumulator inits + the short-string base), and when hashes
    chain (``xxhash64(t1, t2, t3)`` feeds each hash as the next seed) an
    unbound seed would re-evaluate the whole upstream hash per reference
    -- a ~25x blowup measured at the 3-token shingle chain."""
    return LET(seed, lambda sd: _hash_str_body(s, sd))


def _hash_str_body(s: str, seed: str) -> str:
    def with_bytes(hx, n):
        bytes_ = (
            f"list_transform(range(0, {n}), __bi ->"
            f" (('0x' || substr({hx}, 2*__bi + 1, 2))::UBIGINT)::HUGEINT)"
        )

        def with_blist(bl):
            nstripes = f"(CASE WHEN {n} >= 32 THEN {n} // 32 ELSE 0 END)"
            le_word = (
                "({bl}[__o + 1] + {bl}[__o + 2]*256::HUGEINT + {bl}[__o + 3]*65536::HUGEINT"
                " + {bl}[__o + 4]*16777216::HUGEINT + {bl}[__o + 5]*4294967296::HUGEINT"
                " + {bl}[__o + 6]*1099511627776::HUGEINT + {bl}[__o + 7]*281474976710656::HUGEINT"
                " + {bl}[__o + 8]*72057594037927936::HUGEINT)"
            )

            def word_at(o_expr: str) -> str:
                return LET(
                    o_expr,
                    lambda o: le_word.format(bl=bl).replace("__o", f"({o})"),
                )

            stripes = (
                f"list_transform(range(0, {nstripes}), __s ->"
                f" list_transform(range(0, 4), __w ->"
                + word_at("__s * 32 + __w * 8")
                + "))"
            )
            accs_init = (
                f"[{ADD(seed, str((P1 + P2) % M64))},"
                f" {ADD(seed, str(P2))}, ({seed}),"
                f" {MOD64(f'({seed}) + {M64 - P1}::HUGEINT')}]"
            )

            def vstep(acc_i, w):
                return MUL(ROTL(ADD(acc_i, MUL(w, str(P2))), 31), str(P1))

            accs = (
                f"list_reduce(list_prepend({accs_init}, {stripes}),"
                f" (__acc, __st) -> ["
                + ", ".join(vstep(f"__acc[{i + 1}]", f"__st[{i + 1}]") for i in range(4))
                + "])"
            )

            def merged(av):
                e = ADD(
                    ROTL(f"{av}[1]", 1),
                    ROTL(f"{av}[2]", 7),
                    ROTL(f"{av}[3]", 12),
                    ROTL(f"{av}[4]", 18),
                )
                for i in range(4):
                    k = MUL(ROTL(MUL(f"{av}[{i + 1}]", str(P2)), 31), str(P1))
                    e = ADD(MUL(LET(e, lambda h, k=k: XOR(h, k)), str(P1)), str(P4))
                return e

            base = (
                f"(CASE WHEN {n} >= 32 THEN "
                + LET(accs, merged)
                + f" ELSE {ADD(seed, str(P5))} END)"
            )
            h_len = ADD(base, f"({n})::HUGEINT")
            start8 = f"(CASE WHEN {n} >= 32 THEN 32*({n}//32) ELSE 0 END)"
            n8 = f"(({n} - {start8}) // 8)"
            words8 = (
                f"list_transform(range(0, {n8}), __k ->"
                + word_at(f"{start8} + __k * 8")
                + ")"
            )

            def step8(h, w):
                return ADD(
                    MUL(
                        ROTL(
                            LET(
                                h,
                                lambda hh: XOR(
                                    hh, MUL(ROTL(MUL(w, str(P2)), 31), str(P1))
                                ),
                            ),
                            27,
                        ),
                        str(P1),
                    ),
                    str(P4),
                )

            h8 = (
                f"list_reduce(list_prepend({h_len}, {words8}),"
                f" (__h, __w) -> {step8('__h', '__w')})"
            )
            start4 = f"({start8} + 8*{n8})"
            has4 = f"({n} - {start4} >= 4)"
            word4 = (
                f"({bl}[{start4} + 1] + {bl}[{start4} + 2]*256::HUGEINT"
                f" + {bl}[{start4} + 3]*65536::HUGEINT + {bl}[{start4} + 4]*16777216::HUGEINT)"
            )
            h4 = LET(
                h8,
                lambda h: f"(CASE WHEN {has4} THEN "
                + ADD(
                    MUL(
                        ROTL(LET(h, lambda hh: XOR(hh, MUL(word4, str(P1)))), 23),
                        str(P2),
                    ),
                    str(P3),
                )
                + f" ELSE {h} END)",
            )
            startb = f"(CASE WHEN {has4} THEN {start4} + 4 ELSE {start4} END)"
            tail = f"list_transform(range({startb}, {n}), __t -> {bl}[__t + 1])"

            def stepb(h, b_):
                return MUL(
                    ROTL(LET(h, lambda hh: XOR(hh, MUL(b_, str(P5)))), 11), str(P1)
                )

            hb = (
                f"list_reduce(list_prepend({h4}, {tail}),"
                f" (__h, __b) -> {stepb('__h', '__b')})"
            )
            return FMIX(hb)

        return LET(bytes_, with_blist)

    return LET(
        f"lower(hex(encode({s})))",
        lambda hx: LET(f"octet_length(encode({s}))::BIGINT", lambda n: with_bytes(hx, n)),
    )


def U2S(e: str) -> str:
    """u64 HUGEINT expr -> signed BIGINT (Spark's return type)."""
    return LET(
        e,
        lambda v: f"(CASE WHEN {v} >= 9223372036854775808::HUGEINT"
        f" THEN {v} - 18446744073709551616::HUGEINT ELSE {v} END)::BIGINT",
    )


def S2U(e: str) -> str:
    """signed BIGINT expr -> u64 HUGEINT."""
    return (
        f"(CASE WHEN ({e}) < 0 THEN ({e})::HUGEINT + 18446744073709551616::HUGEINT"
        f" ELSE ({e})::HUGEINT END)"
    )


def K1(x_signed: str) -> str:
    """``rotl31(x*P2)*P1`` -- HASH_LONG's seed-INDEPENDENT first mix,
    exposed so a fan-out of remixes of one value over many seeds (the 32
    minhash permutations) computes it once per value instead of once per
    (value, seed): ~40% of HASH_LONG's work hoisted out of the 32-way
    expansion.  Input signed BIGINT SQL; output HUGEINT in [0, 2^64)."""
    return MUL(ROTL(MUL(S2U(x_signed), str(P2)), 31), str(P1))


def hash_long_from_k1(k1_expr: str, seed_u64: int) -> str:
    """Finish ``xxhash64(<literal prefix>, x)`` given K1(x) and the
    Python-folded literal-prefix seed.  Returns signed BIGINT SQL."""
    h1 = XOR(f"{(seed_u64 + P5 + 8) % M64}::HUGEINT", k1_expr)
    h2 = ADD(MUL(ROTL(h1, 27), str(P1)), str(P4))
    return U2S(FMIX(h2))


def xxhash64_longs_from_seed(long_exprs: list[str], seed_u64: int) -> str:
    """``xxhash64(<folded literal prefix>, x1, x2, ...)`` where the
    literal prefix (e.g. a permutation index or band id, an INT literal)
    is pre-folded in Python to ``seed_u64`` via py_hash_int/py_hash_long
    -- constant folding the oracle SQL, exactly what Catalyst does to
    the literal on the Spark side.  ``long_exprs`` are signed BIGINT
    SQL exprs; returns signed BIGINT SQL.

    DEPTH CAP: nesting more than ~2 hash steps in ONE expression exceeds
    DuckDB 1.0's binder/lambda recursion limits (128 levels; also an
    internal 'transient lambda reference' assertion) -- longer chains
    must be staged across CTE/subquery columns, one step per stage, as
    minhash_xx_pairs_sql's hc/bx CTEs do."""
    h = f"{seed_u64}::HUGEINT"
    for x in long_exprs:
        h = HASH_LONG(S2U(x), h)
    return U2S(h)


def minhash_xx_pairs_sql(
    threshold_e6: int, *, n: int = 3, num_perm: int = 32, bands: int = 8
) -> str:
    """DuckDB replay of the ENTIRE xxhash64 MinHash+LSH pipeline
    (operators.dedup hashed_shingles_direct -> minhash_band_buckets ->
    candidate join -> exact-Jaccard verify), returning
    (id_a, id_b, inter, uni, jaccard_e6) -- value-identical to
    minhash_lsh_pairs; the dedup_minhash_lsh oracle."""
    rows_per_band = num_perm // bands
    # the n-token chain is flattened across CTE stages (one HASH_STR per
    # stage, the previous stage's hash column as seed): nesting the three
    # hashes in ONE expression exceeds DuckDB's 128-level binder
    # recursion cap -- each single HASH_STR stays well under it.  The
    # chain runs over DISTINCT n-gram tuples (tri), not positions: the
    # generated XXH64 is ~200us/eval, and a corpus has far fewer distinct
    # shingles than shingle positions (sf0.1: 27k vs 260k -- a ~10x cut
    # on the oracle's dominant stage; never worse, since distinct <= all)
    wcols = ", ".join(f"w{j}" for j in range(n))
    chain_ctes = []
    seed_expr = "42::HUGEINT"
    for j in range(n):
        prev = "tri" if j == 0 else f"hc{j - 1}"
        expr = HASH_STR(f"w{j}", seed_expr)
        if j == n - 1:
            expr = U2S(expr)
        chain_ctes.append(f"hc{j} AS (SELECT {wcols}, {expr} AS c{j} FROM {prev})")
        seed_expr = f"c{j}"
    chain_sql = ",\n".join(chain_ctes)
    shingle_col = f"c{n - 1}"
    # mh_k = min over shingle hashes h of xxhash64(k::INT, h): the k
    # prefix folds to py_hash_int(k, 42), h's seed-independent first mix
    # (K1) is computed once per hash, and the whole remix fan-out runs
    # over DISTINCT hash values (hu/rem), joined back to (doc, h) rows
    # for the per-doc minima -- the same distinct-vs-positions cut
    remix = ",\n        ".join(
        f"{hash_long_from_k1('k1', py_hash_int(k, 42))} AS r{k}"
        for k in range(num_perm)
    )
    mins = ",\n         ".join(f"min(r{k}) AS m{k}" for k in range(num_perm))
    # band buckets: xxhash64(b, mh_{rb*b} .. mh_{rb*b+rb-1}) -- the
    # rows_per_band-long chain is ALSO flattened across CTE stages (one
    # HASH_LONG per stage), same binder-depth cap as the shingle chain
    band_ctes = []
    prev_cte = "sig"
    for step in range(rows_per_band):
        cols = []
        for b in range(bands):
            m = f"m{b * rows_per_band + step}"
            if step == 0:
                e = HASH_LONG(S2U(m), f"{py_hash_int(b, 42)}::HUGEINT")
            else:
                e = HASH_LONG(S2U(m), f"bb{b}_{step - 1}")
            if step == rows_per_band - 1:
                e = U2S(e)
            cols.append(f"{e} AS bb{b}_{step}")
        carry = (
            "doc_id, " + ", ".join(f"m{i}" for i in range(num_perm))
            if step < rows_per_band - 1
            else "doc_id"
        )
        band_ctes.append(f"bx{step} AS (SELECT {carry}, {', '.join(cols)} FROM {prev_cte})")
        prev_cte = f"bx{step}"
    band_chain_sql = ",\n".join(band_ctes)
    band_exprs = ", ".join(f"bb{b}_{rows_per_band - 1}" for b in range(bands))
    band_idx = ", ".join(str(b) for b in range(bands))
    wsel = ", ".join(f"t[i + {j}] AS w{j}" for j in range(n))
    return f"""
WITH toks AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents),
sh AS (SELECT doc_id, {wsel}
       FROM (SELECT doc_id, t, unnest(generate_series(1, greatest(len(t) - {n - 1}, 0))) AS i
             FROM toks WHERE len(t) >= {n})),
tri AS (SELECT DISTINCT {wcols} FROM sh),
{chain_sql},
hd AS (SELECT DISTINCT sh.doc_id, hc.{shingle_col} AS h
       FROM sh JOIN hc{n - 1} hc USING ({wcols})),
hu AS (SELECT DISTINCT h FROM hd),
hk AS (SELECT h, {K1("h")} AS k1 FROM hu),
rem AS (SELECT h,
        {remix}
  FROM hk),
sig AS (SELECT doc_id,
         {mins}
  FROM hd JOIN rem USING (h) GROUP BY doc_id),
{band_chain_sql},
bands AS (
  SELECT doc_id, unnest([{band_exprs}]) AS bucket,
         unnest([{band_idx}]) AS band
  FROM {prev_cte}),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM hd GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS ni
  FROM cand c JOIN hd a ON a.doc_id = c.id_a JOIN hd b ON b.doc_id = c.id_b AND b.h = a.h
  GROUP BY c.id_a, c.id_b)
SELECT id_a, id_b, inter, uni, jaccard_e6 FROM (
  SELECT c.id_a, c.id_b, COALESCE(i.ni, 0) AS inter,
         sa.sz + sb.sz - COALESCE(i.ni, 0) AS uni,
         (1000000 * COALESCE(i.ni, 0)) // (sa.sz + sb.sz - COALESCE(i.ni, 0)) AS jaccard_e6
  FROM cand c
  LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
  JOIN sizes sa ON sa.doc_id = c.id_a
  JOIN sizes sb ON sb.doc_id = c.id_b
) WHERE jaccard_e6 >= {threshold_e6}"""


def simhash_xx_sql(bits: int = 63) -> str:
    """DuckDB replay of operators.dedup.simhash (xxhash64 token hashes,
    ``bits``-bit fingerprint): bit b of Spark's SIGNED hash equals bit b
    of the unsigned value for b < 63, so the bit test is a u64
    divide-and-mod.  Returns (doc_id, simhash)."""
    return f"""
WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, {HASH_STR("tok", "42::HUGEINT")} AS hu FROM toks),
bits AS (
  SELECT doc_id, b.b,
         SUM(CASE WHEN (hu // ((1::UBIGINT << b.b)::HUGEINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(generate_series(0, {bits - 1})) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id"""
