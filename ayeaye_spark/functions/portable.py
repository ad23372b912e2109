"""Dialect-portable SQL expression builders (Spark SQL + DuckDB SQL).

The LLM-pipeline operators (dedup, similarity, text analysis) must be
*oracle-checkable*: the driver runs our Spark query and an equivalent
DuckDB query and hash-compares values.  Anything involving hashing or
tokenization only matches if both engines compute bit-identical results —
so every such expression is defined ONCE here and rendered into either
dialect.  The Spark side consumes these via ``F.expr(...)`` (still pure
Catalyst — higher-order array functions are JVM-side, no Python UDFs in
the hot path).

Verified-identical primitives (probed against pyspark 4.1 + duckdb):
``split('abc','') == ['a','b','c']``, ``ascii`` (codepoints), regex
whitespace split (both keep leading/trailing empties — we filter), and
64-bit modular arithmetic (DuckDB needs explicit ``::BIGINT`` to avoid
32-bit overflow).

Scale note: these run as whole-stage-codegen'd array expressions, O(len)
per row with no shuffle; at 100 TB they scan-parallelize perfectly.
Hashing is dual-mode (see the hashing section below): ``PORTABLE`` is
the ~30-bit oracle-checkable rolling hash, ``FAST`` the engine-native
64-bit hash (xxhash64) — the production keyspace once distinct keys
approach 10⁶, selected per operator via ``hash_mode="fast"``.
"""

from __future__ import annotations

SPARK = "spark"
DUCKDB = "duckdb"

#: modulus for all polynomial hashing — large prime < 2^31 so products
#: with 31 stay far below 2^63
PRIME = 1_000_000_007


def _check(dialect: str) -> None:
    if dialect not in (SPARK, DUCKDB):
        raise ValueError(f"unknown dialect {dialect!r}")


# ---------------------------------------------------------------- array kit
def transform(arr: str, var: str, body: str, d: str) -> str:
    _check(d)
    fn = "transform" if d == SPARK else "list_transform"
    return f"{fn}({arr}, {var} -> {body})"


def filter_(arr: str, var: str, body: str, d: str) -> str:
    _check(d)
    fn = "filter" if d == SPARK else "list_filter"
    return f"{fn}({arr}, {var} -> {body})"


def reduce_bigint(arr: str, init: int, acc_body: str, d: str) -> str:
    """Sequential fold to BIGINT; ``acc_body`` uses variables acc / c."""
    _check(d)
    if d == SPARK:
        return f"aggregate({arr}, {init}L, (acc, c) -> {acc_body})"
    return (
        f"list_reduce(list_prepend({init}::BIGINT, "
        f"{transform(arr, 'c0', 'c0::BIGINT', d)}), (acc, c) -> {acc_body})"
    )


def reduce_double(arr: str, init: str, acc_body: str, d: str) -> str:
    _check(d)
    if d == SPARK:
        return f"aggregate({arr}, cast({init} as double), (acc, c) -> {acc_body})"
    return (
        f"list_reduce(list_prepend({init}::DOUBLE, "
        f"{transform(arr, 'c0', 'c0::DOUBLE', d)}), (acc, c) -> {acc_body})"
    )


def size(arr: str, d: str) -> str:
    return f"size({arr})" if d == SPARK else f"len({arr})"


def distinct(arr: str, d: str) -> str:
    return f"array_distinct({arr})" if d == SPARK else f"list_distinct({arr})"


def array_min(arr: str, d: str) -> str:
    return f"array_min({arr})" if d == SPARK else f"list_min({arr})"


def contains(arr: str, value: str, d: str) -> str:
    return f"array_contains({arr}, {value})" if d == SPARK else f"list_contains({arr}, {value})"


def element(arr: str, idx1: str, d: str) -> str:
    """1-based element access (parenthesized: duckdb can't index a cast)."""
    return f"element_at({arr}, {idx1})" if d == SPARK else f"({arr})[{idx1}]"


def int_sequence(lo: int, hi_inclusive_expr: str, d: str) -> str:
    """[lo..hi] inclusive integer array."""
    if d == SPARK:
        return f"sequence({lo}, {hi_inclusive_expr})"
    # duckdb range() is end-exclusive and returns BIGINTs
    return f"range({lo}, ({hi_inclusive_expr}) + 1)"


def array_lit(values: list[str], d: str) -> str:
    inner = ", ".join(values)
    return f"array({inner})" if d == SPARK else f"[{inner}]"


def str_array_lit(values: list[str], d: str) -> str:
    return array_lit([f"'{v}'" for v in values], d)


def intersect(a: str, b: str, d: str) -> str:
    return f"array_intersect({a}, {b})" if d == SPARK else f"list_intersect({a}, {b})"


def concat_ws_arr(sep: str, arr: str, d: str) -> str:
    if d == SPARK:
        return f"array_join({arr}, '{sep}')"
    return f"array_to_string({arr}, '{sep}')"


# ------------------------------------------------------------- text basics
def regex_lit(pattern: str, d: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    if d == SPARK:
        return "'" + pattern.replace("\\", "\\\\") + "'"
    return "'" + pattern + "'"


def regexp_replace_all(s: str, pattern: str, repl: str, d: str) -> str:
    """Replace ALL matches (Spark default; DuckDB needs the 'g' flag)."""
    pat = regex_lit(pattern, d)
    if d == SPARK:
        return f"regexp_replace({s}, {pat}, '{repl}')"
    return f"regexp_replace({s}, {pat}, '{repl}', 'g')"


def ws_split(s: str, d: str) -> str:
    pat = regex_lit(r"\s+", d)
    if d == SPARK:
        return f"split({s}, {pat})"
    return f"regexp_split_to_array({s}, {pat})"


def tokens(s: str, d: str) -> str:
    """Lowercased whitespace tokens, empties removed (leading/trailing)."""
    return filter_(ws_split(f"lower({s})", d), "t", "t <> ''", d)


def regexp_tokens(s: str, d: str) -> str:
    """BPE-ish lexical tokens: ASCII alnum runs or single punctuation.

    Spark needs an explicit group index 0 (its default is capture group 1,
    which errors on group-free patterns); DuckDB's default is already the
    full match."""
    pat = regex_lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]", d)
    if d == SPARK:
        return f"regexp_extract_all({s}, {pat}, 0)"
    return f"regexp_extract_all({s}, {pat})"


def normalize_text(s: str, d: str) -> str:
    """lower + collapse whitespace + trim: canonical form for fingerprints."""
    collapsed = regexp_replace_all(f"lower({s})", r"\s+", " ", d)
    return f"trim({collapsed})"


def word_ngrams(s: str, n: int, d: str) -> str:
    """Distinct word n-gram shingles of the lowercased text.

    Pass a *column name* holding the token array when calling repeatedly —
    the expression inlines its input, so callers should materialize
    ``tokens(text)`` as its own projected column first (both dialects
    support that via a subquery / two-step select).
    """
    toks = tokens(s, d)
    return ngrams_of_tokens(toks, n, d)


def ngrams_of_tokens(toks: str, n: int, d: str) -> str:
    """Distinct n-gram shingles over an existing token-array expression."""
    if n == 1:
        return distinct(toks, d)
    joined = " || ' ' || ".join(
        element(toks, "i" if k == 0 else f"i + {k}", d) for k in range(n)
    )
    seq = int_sequence(1, f"{size(toks, d)} - {n - 1}", d)
    grams = transform(seq, "i", joined, d)
    # Spark's sequence(1, x) is DESCENDING for x < 1 — guard short docs
    empty = "array()" if d == SPARK else "[]"
    guarded = f"(case when {size(toks, d)} < {n} then cast({empty} as array<string>) else {grams} end)" \
        if d == SPARK else f"(case when {size(toks, d)} < {n} then [] else {grams} end)"
    return distinct(guarded, d)


# ---------------------------------------------------------------- hashing
#
# TWO hash modes, selected by the ``mode`` parameter on every builder:
#
# ``PORTABLE`` (default) — the polynomial rolling hash mod PRIME=1e9+7.
#   Bit-identical across Spark and DuckDB, so value-oracle-checkable.
#   Keyspace is ~2^30: expected colliding key PAIRS ≈ K^2 / (2·10^9) for
#   K distinct keys.  Fine to K ≈ 10^6 (~0.5 expected collisions); at
#   K = 10^8 distinct sentences/shingles that is ~5·10^6 false merges and
#   at K ≥ 10^9 the space saturates.  ORACLE/TEST scale only.
#
# ``FAST`` — the engine-native 64-bit hash (Spark ``xxhash64`` /
#   DuckDB ``hash``).  Expected colliding pairs ≈ K^2 / 2^65: at
#   K = 10^9 that is ~0.03 — collision-free for any realistic corpus.
#   The PRODUCTION path at 100 TB.  NOT cross-engine portable (the two
#   engines compute different values), so fast-mode queries can only be
#   oracled on hash-value-independent outputs (counts, survivor sets).
#
# Exact-key operators (fingerprint dedup, shingle jaccard/containment,
# sentence-duplication profiles, bigram counts) expose a
# ``hash_mode="portable"|"fast"`` knob that threads down to here.
PORTABLE = "portable"
FAST = "fast"

#: sign-flip constant: DuckDB ``hash()`` returns UBIGINT; subtracting 2^63
#: in HUGEINT space is a bijection onto the full signed int64 range (a
#: plain ``::BIGINT`` cast raises on values ≥ 2^63).
_U64_SIGN = 9223372036854775808


def _check_mode(mode: str) -> None:
    if mode not in (PORTABLE, FAST):
        raise ValueError(f"unknown hash mode {mode!r} (portable|fast)")


def _fast_hash_n(args: list[str], d: str) -> str:
    """Engine-native 64-bit hash of one or more expressions (order-aware)."""
    inner = ", ".join(args)
    if d == SPARK:
        return f"xxhash64({inner})"
    return f"(hash({inner})::HUGEINT - {_U64_SIGN})::BIGINT"


def char_hash(s: str, d: str, mode: str = PORTABLE) -> str:
    """String hash in the selected mode (see the hashing section note).

    PORTABLE: h = fold(7, acc*31 + codepoint(c)) mod PRIME — bit-identical
    across engines.  FAST: engine-native 64-bit (xxhash64 / hash).
    """
    _check_mode(mode)
    if mode == FAST:
        return _fast_hash_n([s], d)
    chars = f"split({s}, '')" if d == SPARK else f"string_split({s}, '')"
    if d == SPARK:
        return f"aggregate({chars}, 7L, (acc, c) -> (acc * 31 + ascii(c)) % {PRIME})"
    return (
        f"list_reduce(list_prepend(7::BIGINT, "
        f"list_transform({chars}, c -> ascii(c)::BIGINT)), "
        f"(acc, c) -> (acc * 31 + c) % {PRIME})"
    )


def hash_array(arr: str, d: str, mode: str = PORTABLE) -> str:
    """Element-wise char_hash over a string array."""
    return transform(arr, "s", char_hash("s", d, mode), d)


def token_hash_ngrams_all(th: str, n: int, d: str, mode: str = PORTABLE) -> str:
    """POSITIONAL n-gram shingle hashes: element ``i`` (1-based) is the
    hash of the n-token window starting at token ``i`` — order kept,
    duplicates kept (the repeated-span operators need positions; the
    set-semantics callers go through :func:`token_hash_ngrams`).

    PORTABLE window combine: fold over the window's n token hashes of
    ``g = (g * 31 + h_k) % PRIME``.  Equivalent information to hashing the
    shingle string, but ~4× cheaper: each token is char-hashed once and
    windows combine with 2 integer ops — no n-gram string materialization.
    FAST combine: one n-ary engine hash over the window's token hashes
    (``xxhash64(h_i, …, h_{i+n-1})``) — order-aware, full 64-bit keyspace,
    overflow-free under ANSI mode.  ``th`` should be a materialized
    token-hash column produced with the SAME mode.
    """
    _check_mode(mode)
    if n == 1:
        return th
    if mode == FAST:
        g = _fast_hash_n(
            [element(th, "i" if k == 0 else f"i + {k}", d) for k in range(n)], d
        )
    else:
        g = element(th, "i", d)
        for k in range(1, n):
            g = f"(({g}) * 31 + {element(th, f'i + {k}', d)}) % {PRIME}"
    seq = int_sequence(1, f"{size(th, d)} - {n - 1}", d)
    grams = transform(seq, "i", g, d)
    if d == SPARK:
        return (
            f"(case when {size(th, d)} < {n} "
            f"then cast(array() as array<bigint>) else {grams} end)"
        )
    return f"(case when {size(th, d)} < {n} then [] else {grams} end)"


def token_hash_ngrams(th: str, n: int, d: str, mode: str = PORTABLE) -> str:
    """Distinct n-gram shingle hashes (set semantics) — see
    :func:`token_hash_ngrams_all` for the hash construction."""
    return distinct(token_hash_ngrams_all(th, n, d, mode), d)


def fast_hash(s: str, d: str) -> str:
    """Engine-native 64-bit hash — FAST but not cross-engine-portable.

    Spark's ``xxhash64`` is the production path at 100 TB; DuckDB's
    ``hash`` differs, so queries using this can't be value-oracled on the
    hash VALUES (hash-independent outputs — counts, survivor sets —
    still can).  Equivalent to ``char_hash(s, d, mode=FAST)``.

    DuckDB's ``hash`` returns UBIGINT; the HUGEINT subtract-2^63 maps it
    bijectively onto signed int64 (a direct ``::BIGINT`` cast raises on
    the upper half of the range).
    """
    return _fast_hash_n([s], d)


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for k permutation hashes."""
    return [(2 * j + 1, (j * j + j + 1) % PRIME) for j in range(k)]


def minhash_from_hashes(hashes: str, k: int, d: str, mode: str = PORTABLE) -> str:
    """Array of k minhash values over a precomputed shingle-hash array.

    PORTABLE: minhash_j = min over shingles of (a_j * h + b_j) % PRIME;
    empty shingle sets (short docs) yield PRIME as the sentinel
    minimum.  REQUIRES portable (< 2^31) input hashes — the affine
    permutation would overflow int64 on 64-bit inputs (ANSI raises).

    FAST: permutation_j(h) = engine-hash(h, j) — a fresh 64-bit mix per
    permutation index (the standard "k independent hash functions"
    construction), sentinel Long.MAX for empty sets.  Pair with FAST
    ``hash_array`` input: the production signature path whose shingle
    keyspace doesn't alias at 10⁹ distinct shingles.

    ``hashes`` should be a COLUMN NAME (materialized via a prior select /
    subquery), not an inline expression — the k permutations each traverse
    it, and neither engine CSEs a repeated inline computation.
    """
    _check_mode(mode)
    parts = []
    if mode == FAST:
        for j in range(k):
            permuted = transform(
                hashes, "h", _fast_hash_n(["h", str(j)], d), d
            )
            parts.append(
                f"coalesce({array_min(permuted, d)}, 9223372036854775807)"
            )
        return array_lit(parts, d)
    for a, b in minhash_params(k):
        permuted = transform(hashes, "h", f"(({a} * h + {b}) % {PRIME})", d)
        parts.append(f"coalesce({array_min(permuted, d)}, {PRIME})")
    return array_lit(parts, d)


def simhash32_from_hashes(tok_hashes: str, d: str) -> str:
    """32-bit SimHash from a precomputed token-hash array column.

    bit_b of the fingerprint is 1 iff sum over tokens of
    ((hash >> b) & 1 ? +1 : -1) is positive.  Like
    :func:`minhash_from_hashes`, pass a materialized column name — the 32
    bit-sums each traverse the array.  Works unchanged on FAST (64-bit)
    token hashes — arithmetic shift + ``& 1`` reads two's-complement bits
    consistently in both engines.
    """
    bits = []
    for b in range(32):
        if d == SPARK:
            contrib = f"(case when (shiftright(c, {b}) & 1) = 1 then 1 else -1 end)"
        else:
            contrib = f"(case when ((c >> {b}) & 1) = 1 then 1 else -1 end)"
        total = reduce_bigint(tok_hashes, 0, f"acc + {contrib}", d)
        bits.append(f"(case when ({total}) > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def simhash60_from_hashes(tok_hashes: str, d: str, mode: str = PORTABLE) -> str:
    """60-bit SimHash from a precomputed token-hash array column — the
    WIDE fingerprint for banded near-dup search at corpus scale.

    PORTABLE token hashes are mod ``PRIME`` (≈2^30), so only 30
    independent bits exist per hash; bits 30..59 come from the
    deterministic affine remix ``(h * 31 + 17) % PRIME`` (bit b+30 of the
    fingerprint is bit b of the remix).  FAST (64-bit) token hashes have
    ≥60 independent bits, so all 60 fingerprint bits sample the hash
    directly — no remix, and no token-collision aliasing at 10^8+ vocab
    (pass ``mode=FAST`` together with fast ``hash_array`` input).

    Why wide matters: pigeonhole banding keys buckets by chunk value, and
    bucket occupancy is ``n / 2^width`` — 15-bit chunks of a 60-bit
    fingerprint give 32768 keys per band where 8-bit chunks of the 32-bit
    one give 256, the difference between a workable candidate volume and
    a quadratic blowup on a billion-document corpus.
    """
    _check_mode(mode)
    bits = []
    for b in range(60):
        if mode == FAST or b < 30:
            src = "c"
            shift = b
        else:
            src = f"((c * 31 + 17) % {PRIME})"
            shift = b - 30
        if d == SPARK:
            contrib = f"(case when (shiftright({src}, {shift}) & 1) = 1 then 1 else -1 end)"
        else:
            contrib = f"(case when (({src} >> {shift}) & 1) = 1 then 1 else -1 end)"
        total = reduce_bigint(tok_hashes, 0, f"acc + {contrib}", d)
        bits.append(f"(case when ({total}) > 0 then {1 << b} else 0 end)")
    return "(" + " + ".join(bits) + ")"


# ------------------------------------------------------------- similarity
def cast_double_array(arr: str, d: str) -> str:
    if d == SPARK:
        return transform(arr, "x", "cast(x as double)", d)
    return f"{arr}::DOUBLE[]"


def int_dot(a: str, b: str, d: str) -> str:
    """Integer dot product over equal-length bigint arrays — exact and
    order-independent (integer addition is associative), so identical
    in both engines with no fold-order caveats."""
    if d == SPARK:
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"cast(0 as bigint), (acc, c) -> acc + c)"
        )
    idx = f"range(1, {size(a, d)} + 1)"
    prods = f"list_transform({idx}, i -> {element(a, 'i', d)} * {element(b, 'i', d)})"
    return f"list_reduce(list_prepend(0::BIGINT, {prods}), (acc, c) -> acc + c)"


def sq8_codes(v: str, mn: str, mx: str, d: str) -> str:
    """Scalar-quantize a double array to 8-bit codes (as bigint array):
    ``code_i = clamp(floor((v_i - mn_i) * 255 / (mx_i - mn_i)), 0, 255)``
    against per-dimension corpus bounds; a degenerate dimension
    (``mx_i == mn_i``) codes to 0.  Every step is single-value IEEE
    double arithmetic followed by floor — bit-identical across engines
    (no accumulation, so no fold-order concerns)."""
    if d == SPARK:
        body = (
            f"case when element_at({mx}, i) > element_at({mn}, i) then "
            f"least(cast(255 as bigint), greatest(cast(0 as bigint), "
            f"cast(floor((element_at({v}, i) - element_at({mn}, i)) * 255.0D "
            f"/ (element_at({mx}, i) - element_at({mn}, i))) as bigint))) "
            f"else cast(0 as bigint) end"
        )
        return f"transform(sequence(1, {size(v, d)}), i -> {body})"
    body = (
        f"CASE WHEN {mx}[i] > {mn}[i] THEN "
        f"least(255::BIGINT, greatest(0::BIGINT, "
        f"floor(({v}[i] - {mn}[i]) * 255.0 / ({mx}[i] - {mn}[i]))::BIGINT)) "
        f"ELSE 0::BIGINT END"
    )
    return f"list_transform(range(1, {size(v, d)} + 1), i -> {body})"


#: BPE segmentation separator (inside-word piece boundary).  A control
#: char no whitespace-split token should contain; words that DO contain
#: it would mis-segment (documented limitation of the replace encoding).
BPE_SEP = "\x01"


def bpe_piece_count(text: str, merges: list, d: str) -> str:
    """Total BPE piece count of ``text`` under a FIXED merge list —
    tokenizer APPLY at scale (train offline / with
    :func:`operators.text.bpe_top_merges`, apply to the corpus).

    Encoding that makes this portable with no list-building fold
    (DuckDB's ``list_reduce`` cannot accumulate lists): a word's
    segmentation is a ``BPE_SEP``-joined STRING of its pieces, and
    each merge ``(l, r)`` is one fold over the current pieces with the
    string itself as the accumulator — append ``SEP + s`` normally,
    or rewrite the trailing piece to ``l || r`` when the incoming
    piece EQUALS ``r`` and the accumulator's last piece EQUALS ``l``.
    The last-piece check is ``acc == l OR endswith(acc, SEP + l)`` —
    exact whole-piece matching, because pieces never contain the
    separator (a naive ``replace('l SEP r', 'lr')`` encoding is NOT
    sound: it also fires when the right piece merely STARTS with
    ``r``, e.g. pieces ``[r, er]`` under merge ``(r, e)`` — found by
    the hypothesis property test).  Greedy left-to-right
    non-overlapping, exactly the reference fold ("aaaa" with (a,a) ->
    [aa, aa]).  Merges apply in list order; pieces per word =
    ``split(seg, SEP)`` length; the document total is an integer fold.
    """
    sep = BPE_SEP

    def _esc(s: str) -> str:
        # Spark string literals treat backslash as an escape; DuckDB's
        # standard-SQL literals do not
        if d == SPARK:
            s = s.replace("\\", "\\\\")
        return s.replace("'", "''")

    ends = "endswith" if d == SPARK else "ends_with"

    def seg(w: str) -> str:
        if d == SPARK:
            joined = f"array_join(split({w}, ''), '{sep}')"
        else:
            joined = f"array_to_string(string_split({w}, ''), '{sep}')"
        for left_p, right_p in merges:
            l_lit, r_lit = _esc(left_p), _esc(right_p)
            lr_lit = _esc(left_p + right_p)
            nl = len(left_p)
            step = (
                f"case when acc = '' then s "
                f"when s = '{r_lit}' and (acc = '{l_lit}' or "
                f"{ends}(acc, '{sep}{l_lit}')) "
                f"then left(acc, length(acc) - {nl}) || '{lr_lit}' "
                f"else acc || '{sep}' || s end"
            )
            if d == SPARK:
                joined = (
                    f"aggregate(split({joined}, '{sep}'), "
                    f"cast('' as string), (acc, s) -> {step})"
                )
            else:
                joined = (
                    f"list_reduce(list_prepend('', "
                    f"string_split({joined}, '{sep}')), "
                    f"(acc, s) -> {step})"
                )
        return joined

    toks = tokens(text, d)
    if d == SPARK:
        pieces = f"transform({toks}, w -> size(split({seg('w')}, '{sep}')))"
        return f"aggregate({pieces}, cast(0 as bigint), (acc, c) -> acc + c)"
    pieces = f"list_transform({toks}, w -> len(string_split({seg('w')}, '{sep}')))"
    return f"list_reduce(list_prepend(0::BIGINT, {pieces}), (acc, c) -> acc + c)"


def array_sub(a: str, b: str, d: str) -> str:
    """Element-wise ``a - b`` over equal-length double arrays (exact
    IEEE subtraction — engine-independent)."""
    if d == SPARK:
        return f"zip_with({a}, {b}, (x, y) -> x - y)"
    idx = f"range(1, {size(a, d)} + 1)"
    return f"list_transform({idx}, i -> {element(a, 'i', d)} - {element(b, 'i', d)})"


def array_slice(arr: str, start1: int, length: int, d: str) -> str:
    """1-based contiguous slice of ``length`` elements."""
    if d == SPARK:
        return f"slice({arr}, {start1}, {length})"
    # duckdb list slicing is 1-based and inclusive on both ends
    return f"({arr})[{start1}:{start1 + length - 1}]"


def dot(a: str, b: str, d: str) -> str:
    """Sequential dot product — same accumulation order in both engines,
    so identical double inputs give BIT-IDENTICAL results (no rounding
    needed downstream)."""
    if d == SPARK:
        return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 as double), (acc, c) -> acc + c)"
    # duckdb: index-based to avoid struct-field naming differences
    idx = f"range(1, {size(a, d)} + 1)"
    prods = f"list_transform({idx}, i -> {element(a, 'i', d)} * {element(b, 'i', d)})"
    return f"list_reduce(list_prepend(0.0::DOUBLE, {prods}), (acc, c) -> acc + c)"


def norm(a: str, d: str) -> str:
    return f"sqrt({dot(a, a, d)})"


def cosine(a: str, b: str, d: str) -> str:
    return f"({dot(a, b, d)} / ({norm(a, d)} * {norm(b, d)}))"


def dot_unrolled(a: str, b: str, dim: int, d: str) -> str:
    """Dot product unrolled for a KNOWN dimension — no higher-order
    functions.  MEASURED SLOWER than the fold at dim=64 in Spark 4.1
    (ann_topk_brute 1.0s → 4.1s at sf0.1): the 192-term cosine expression
    overruns codegen/JIT method limits and falls back to interpretation
    of a much larger tree.  Kept for small dims and as the recorded
    experiment; the operators default to :func:`dot`.  SQL ``+`` is
    left-associative, so the accumulation order — and every IEEE
    intermediate — matches the sequential fold exactly.
    """

    def term(i: int) -> str:
        ea, eb = element(a, str(i), d), element(b, str(i), d)
        if d == SPARK:
            return f"cast({ea} as double) * cast({eb} as double)"
        return f"({ea}::DOUBLE * {eb}::DOUBLE)"

    return "(" + " + ".join(term(i) for i in range(1, dim + 1)) + ")"


def cosine_unrolled(a: str, b: str, dim: int, d: str) -> str:
    return (
        f"({dot_unrolled(a, b, dim, d)} / "
        f"(sqrt({dot_unrolled(a, a, dim, d)}) * sqrt({dot_unrolled(b, b, dim, d)})))"
    )


def jaccard(a: str, b: str, d: str) -> str:
    """Jaccard similarity of two distinct-element string arrays."""
    inter = size(intersect(a, b, d), d)
    union = f"({size(a, d)} + {size(b, d)} - {inter})"
    return f"(case when {union} = 0 then 0.0 else cast({inter} as double) / {union} end)"


# ----------------------------------------------------------- text analysis
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "para"],
}


def stopword_hits_from_tokens(toks: str, lang: str, d: str) -> str:
    """Count of tokens (with multiplicity) found in the language's stoplist.

    ``toks`` should be a materialized token-array column when called
    repeatedly (lang_id evaluates 4 lists) — tokenizing is the expensive
    part and neither engine CSEs repeated inline expressions."""
    stops = str_array_lit(STOPWORDS[lang], d)
    return size(filter_(toks, "t", contains(stops, "t", d), d), d)


def stopword_hits(s: str, lang: str, d: str) -> str:
    return stopword_hits_from_tokens(tokens(s, d), lang, d)


def lang_id(s: str, d: str) -> str:
    """Argmax stopword-hit language over an inline text expression —
    prefer :func:`lang_id_from_tokens` with a materialized token column."""
    return lang_id_from_tokens(tokens(s, d), d)


def lang_id_from_tokens(toks: str, d: str) -> str:
    """Argmax stopword-hit language, 'und' when no list hits at all,
    deterministic en>de>fr>es tie-break."""
    hits = {lang: stopword_hits_from_tokens(toks, lang, d) for lang in STOPWORDS}
    total = " + ".join(f"({h})" for h in hits.values())
    return (
        "(case "
        f"when ({total}) = 0 then 'und' "
        f"when ({hits['en']}) >= ({hits['de']}) and ({hits['en']}) >= ({hits['fr']}) "
        f"and ({hits['en']}) >= ({hits['es']}) then 'en' "
        f"when ({hits['de']}) >= ({hits['fr']}) and ({hits['de']}) >= ({hits['es']}) then 'de' "
        f"when ({hits['fr']}) >= ({hits['es']}) then 'fr' "
        "else 'es' end)"
    )


def token_count(s: str, d: str) -> str:
    return size(tokens(s, d), d)


def int_div(a: str, b: str, d: str) -> str:
    return f"({a}) div ({b})" if d == SPARK else f"({a}) // ({b})"


def byte_length(s: str, d: str) -> str:
    """UTF-8 byte length of a string expression (Spark octet_length;
    DuckDB's octet_length only takes BLOB/BIT — strlen is its
    byte-length function for VARCHAR)."""
    return f"octet_length({s})" if d == SPARK else f"strlen({s})"


def quality_score_ppm(s: str, d: str) -> str:
    """Quality ppm over an inline text expression — prefer
    :func:`quality_score_ppm_from_tokens` with a materialized column."""
    return quality_score_ppm_from_tokens(s, tokens(s, d), d)


def quality_score_ppm_from_tokens(s: str, toks: str, d: str) -> str:
    """Heuristic document quality as EXACT integer parts-per-million of
    0.4·alpha_ratio + 0.3·stopword_ratio(en) + 0.3·min(tokens, 64)/64.

    Pure integer arithmetic (common denominator 640·len·tokens, then
    integer-divided into ppm) — float ``round()`` disagrees between
    engines at exact-decimal boundaries, integer division never does.
    """
    ls = f"length({s})"
    stripped = regexp_replace_all(s, r"[^A-Za-z ]", "", d)
    la = f"length({stripped})"
    tc = size(toks, d)
    h = stopword_hits_from_tokens(toks, "en", d)
    m = f"least({tc}, 64)"
    big = "bigint" if d == SPARK else "BIGINT"
    num = (
        f"(256 * cast({la} as {big}) * ({tc}) "
        f"+ 192 * cast({h} as {big}) * ({ls}) "
        f"+ 3 * cast({m} as {big}) * ({ls}) * ({tc}))"
    )
    den = f"(640 * cast({ls} as {big}) * ({tc}))"
    ppm = int_div(f"{num} * 1000000", den, d)
    return f"(case when ({ls}) = 0 or ({tc}) = 0 then 0 else {ppm} end)"


def fingerprint(s: str, d: str, mode: str = PORTABLE) -> str:
    """Document fingerprint over normalized text (hash of the canonical
    lower+collapse-ws+trim form).  ``mode=FAST`` swaps the ~30-bit
    portable rolling hash for the engine-native 64-bit hash — the
    production setting once distinct documents approach 10^6 (see the
    hashing section collision envelope)."""
    return char_hash(normalize_text(s, d), d, mode)


# ------------------------------------------------- quality rules (Gopher)
# The repetition/format heuristics of Rae et al., "Scaling Language
# Models: Methods, Analysis & Insights from Training Gopher"
# (arXiv:2112.11446, App. A1.1), re-expressed as exact integer ppm so
# both engines agree bit-for-bit.  Thresholds live in the composed
# predicate; each signal is also exposed on its own for profiling.


def lines(s: str, d: str) -> str:
    """Newline-split line array (trailing empties kept by both engines)."""
    if d == SPARK:
        return f"split({s}, chr(10))"
    return f"string_split({s}, chr(10))"


def rmatch(expr: str, pattern: str, d: str) -> str:
    """Boolean regex containment predicate."""
    pat = regex_lit(pattern, d)
    if d == SPARK:
        return f"({expr} rlike {pat})"
    return f"regexp_matches({expr}, {pat})"


def sum_token_len(toks: str, d: str) -> str:
    """Σ length(token) as BIGINT (sequential integer fold)."""
    return reduce_bigint(transform(toks, "t", "length(t)", d), 0, "acc + c", d)


def mean_token_len_ppm(toks: str, d: str) -> str:
    n = size(toks, d)
    total = sum_token_len(toks, d)
    ppm = int_div(f"({total}) * 1000000", f"({n})", d)
    return f"(case when ({n}) = 0 then 0 else {ppm} end)"


def symbol_token_ppm(s: str, toks: str, d: str) -> str:
    """(# count + '...' count) per word, in ppm — Gopher's
    symbol-to-word ratio."""
    hashes = f"(length({s}) - length(replace({s}, '#', '')))"
    ell = int_div(f"(length({s}) - length(replace({s}, '...', '')))", "3", d)
    n = size(toks, d)
    big = "bigint" if d == SPARK else "BIGINT"
    ppm = int_div(f"cast({hashes} + ({ell}) as {big}) * 1000000", f"({n})", d)
    return f"(case when ({n}) = 0 then 0 else {ppm} end)"


def bullet_line_ppm(s: str, d: str) -> str:
    """ppm of lines starting with a bullet marker ('- ', '* ', '• ')."""
    ls = lines(s, d)
    pred = ("ltrim(l) LIKE '- %' OR ltrim(l) LIKE '* %' "
            "OR ltrim(l) LIKE '• %'")
    big = "bigint" if d == SPARK else "BIGINT"
    hits = size(filter_(ls, "l", f"({pred})", d), d)
    n = size(ls, d)
    ppm = int_div(f"cast({hits} as {big}) * 1000000", f"({n})", d)
    return f"(case when ({n}) = 0 then 0 else {ppm} end)"


def ellipsis_line_ppm(s: str, d: str) -> str:
    """ppm of lines ending in '...' (or the single-char ellipsis)."""
    ls = lines(s, d)
    pred = "rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'"
    big = "bigint" if d == SPARK else "BIGINT"
    hits = size(filter_(ls, "l", f"({pred})", d), d)
    n = size(ls, d)
    ppm = int_div(f"cast({hits} as {big}) * 1000000", f"({n})", d)
    return f"(case when ({n}) = 0 then 0 else {ppm} end)"


def alpha_token_ppm(toks: str, d: str) -> str:
    """ppm of tokens containing at least one letter (tokens are
    lowercased upstream, so [a-z] suffices)."""
    big = "bigint" if d == SPARK else "BIGINT"
    hits = size(filter_(toks, "t", rmatch("t", "[a-z]", d), d), d)
    n = size(toks, d)
    ppm = int_div(f"cast({hits} as {big}) * 1000000", f"({n})", d)
    return f"(case when ({n}) = 0 then 0 else {ppm} end)"


def gopher_pass(s: str, toks: str, d: str) -> str:
    """The composed Gopher document filter as one boolean expression
    over a MATERIALIZED token-array column (tokenize once upstream):
    word count in [50, 100000], mean word length in [3, 10], symbol
    ratio <= 0.1, bullet lines < 90%, ellipsis lines < 30%, alphabetic
    words >= 80%, and >= 2 English stopword hits."""
    n = size(toks, d)
    return (
        f"(({n}) >= 50 AND ({n}) <= 100000"
        f" AND {mean_token_len_ppm(toks, d)} BETWEEN 3000000 AND 10000000"
        f" AND {symbol_token_ppm(s, toks, d)} <= 100000"
        f" AND {bullet_line_ppm(s, d)} < 900000"
        f" AND {ellipsis_line_ppm(s, d)} < 300000"
        f" AND {alpha_token_ppm(toks, d)} >= 800000"
        f" AND {stopword_hits_from_tokens(toks, 'en', d)} >= 2)"
    )


# ------------------------------------------------------------ data layout
def zorder_key(cols: list[str], bits: int) -> str:
    """N-dimensional Morton (Z-order) key: interleave the low ``bits``
    bits of each nonnegative integer expression (bit i of dimension d
    lands at output bit ``i * n_dims + d``).

    Rows sorted by this key cluster in ALL listed dimensions at once —
    the multi-column data-skipping layout (Delta OPTIMIZE ZORDER's
    core): a range-partitioned write on the key gives every file a
    tight min/max envelope on every dimension, where a single-column
    sort only tightens one.  Inputs should be range-bucketized to
    ``[0, 2^bits)`` (quantization preserves locality; a modulo would
    destroy it); out-of-range values are masked so the expression is
    total.  The emitted text (``& | << >>``, fully parenthesized) is
    probe-verified identical in Spark SQL and DuckDB, so ONE string
    serves query and oracle — the single source of the bit math
    (``operators/layout.py`` Column twin and :func:`zorder_key2` both
    delegate here)."""
    n = len(cols)
    if n < 2:
        raise ValueError("zorder_key needs >= 2 columns (1-D z-order is a sort)")
    if bits < 1 or n * bits > 63:
        raise ValueError(
            f"bits={bits} x {n} dims must fit a signed 64-bit long "
            "(n_cols * bits <= 63)"
        )
    mask = (1 << bits) - 1
    terms = [
        f"((((CAST({c} AS BIGINT) & {mask}) >> {i}) & 1) << {i * n + d})"
        for d, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def zorder_key2(x: str, y: str, bits: int, d: str) -> str:
    """Two-dimensional Morton key (x in even bit positions, y in odd) —
    the dialect-tagged wrapper kept for existing call sites; the bit
    math lives once in :func:`zorder_key` (whose text is dialect-shared,
    so ``d`` only validates)."""
    _check(d)
    return zorder_key([x, y], bits)


def rp_sign_matrix(
    in_dim: int, out_dim: int, seed: str
) -> list[list[float]]:
    """Deterministic ±1 sign matrix for random projection: cell (j, i)
    is the parity of ``md5(seed|i:j)``'s first byte — full avalanche
    mixing (the polynomial char_hash's PARITY is near-linear in the
    characters, which made a fold-based sign matrix effectively rank-1;
    md5 has no such structure).  Computed once at PLAN BUILD time in
    Python and inlined as a literal into both dialects — executors do
    zero hashing."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{seed}|{i}:{j}".encode()).digest()[0] % 2 == 0
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_project(
    a: str, in_dim: int, out_dim: int, seed: str, d: str
) -> str:
    """Signed random projection (Achlioptas ±1 scheme) of a double
    array onto ``out_dim`` dimensions: ``y_j = sum_i x_i * s(j, i)``
    with the :func:`rp_sign_matrix` literal signs and LEFT-TO-RIGHT
    fold accumulation — identical inputs give bit-identical projections
    in both engines (same guarantee as :func:`dot`).

    The sign matrix inlines as one ``out_dim x in_dim`` array literal;
    the projection is a per-row fold over it — JVM-side in Spark, no
    shuffle, no Python on the executors.
    """
    mat = rp_sign_matrix(in_dim, out_dim, seed)
    if d == SPARK:
        rows = ", ".join(
            "array(" + ", ".join(f"{v:.1f}d" for v in row) + ")"
            for row in mat
        )
        lit = f"array({rows})"
        inner = (
            f"aggregate(zip_with({a}, s, (x, y) -> x * y), "
            f"cast(0 as double), (acc, c) -> acc + c)"
        )
        return f"transform({lit}, s -> {inner})"
    rows = ", ".join(
        "[" + ", ".join(f"{v:.1f}" for v in row) + "]::DOUBLE[]"
        for row in mat
    )
    lit = f"[{rows}]"
    prods = (
        f"list_transform(range(1, {in_dim} + 1), "
        f"i -> ({a})[i] * (s)[i])"
    )
    inner = (
        f"list_reduce(list_prepend(0.0::DOUBLE, {prods}), "
        f"(acc, c) -> acc + c)"
    )
    return f"list_transform({lit}, s -> {inner})"


# -------------------------------------------------- log2-linear sketching
def money_cents(col: str, d: str) -> str:
    """Portable exact integer cents: the DECIMAL(18,2) intermediate
    pins half-up rounding in BOTH engines (a bare double*100 cast
    truncates in Spark and rounds in DuckDB)."""
    _check(d)
    return f"CAST(CAST({col} AS DECIMAL(18,2)) * 100 AS BIGINT)"


def log2_linear_bucket(c: str, d: str) -> str:
    """DDSketch-shaped bucket id for a POSITIVE BIGINT expression:
    values < 16 get their own bucket; otherwise
    ``msb * 16 + (c >> (msb - 4))`` — 8 sub-buckets per octave, so the
    bucket's value range is < 12.5% of its lower edge.  All-integer
    (``length(bin(c))`` is the msb position in both engines), hence
    bit-portable, monotone in ``c``, and MERGEABLE: cells re-aggregate
    by summing counts, exactly like an HLL rollup but for quantiles.
    Inline-once rule applies — project ``c`` as its own column first."""
    _check(d)
    msb = f"length(bin({c}))"
    if d == SPARK:
        shifted = f"({c} div shiftleft(1L, {msb} - 4))"
    else:
        shifted = f"({c} // (1::BIGINT << ({msb} - 4)))"
    return f"(CASE WHEN {msb} <= 4 THEN {c} ELSE {msb} * 16 + {shifted} END)"


def log2_linear_bucket_ub(b: str, d: str) -> str:
    """Inclusive upper bound (same unit as ``c``) of a
    :func:`log2_linear_bucket` id — the deterministic value a quantile
    estimate reports for the bucket where the rank lands."""
    _check(d)
    if d == SPARK:
        hi = f"(shiftleft(1L, ({b} div 16) - 4) * (({b} % 16) + 1) - 1)"
    else:
        hi = f"((1::BIGINT << (({b} // 16) - 4)) * (({b} % 16) + 1) - 1)"
    return f"(CASE WHEN {b} <= 15 THEN {b} ELSE {hi} END)"


# --------------------------------------------------------------------------
# URL canonicalization / web-corpus helpers
# --------------------------------------------------------------------------


def array_sort_(arr: str, d: str) -> str:
    """Ascending sort (bytewise for the string arrays we feed it)."""
    return f"array_sort({arr})" if d == SPARK else f"list_sort({arr})"


def regexp_count(s: str, pattern: str, d: str) -> str:
    """Number of non-overlapping matches of ``pattern`` in ``s``."""
    pat = regex_lit(pattern, d)
    if d == SPARK:
        return f"size(regexp_extract_all({s}, {pat}, 0))"
    return f"len(regexp_extract_all({s}, {pat}))"


def regexp_extract_g(s: str, pattern: str, group: int, d: str) -> str:
    """Capture group ``group`` of the first match ('' when no match —
    both engines agree on that convention)."""
    pat = regex_lit(pattern, d)
    return f"regexp_extract({s}, {pat}, {group})"


def split_char(s: str, sep: str, d: str) -> str:
    """Split on one literal (regex-safe inside a class) character."""
    if d == SPARK:
        return f"split({s}, '[{sep}]')"  # split() is regex; class-escape
    return f"string_split({s}, '{sep}')"


# the ad/analytics click-id and campaign params every crawl
# canonicalizer strips (anchored at the param NAME, value-insensitive)
TRACKING_PARAM_RE = (
    r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid|yclid|"
    r"_ga|ref_src|spm)(=.*)?$"
)


def canonical_url(url: str, d: str, *,
                  tracking_re: str = TRACKING_PARAM_RE) -> str:
    """Canonical form of a URL column — the normalization step before
    URL-keyed dedup of a crawled corpus, where the same page arrives as
    ``HTTP://Example.COM:80/a/?utm_source=x#frag`` and
    ``http://example.com/a``:

    * scheme + host lowercased, userinfo dropped, trailing host dot
      dropped, default ports (http:80, https:443) dropped;
    * fragment dropped;
    * path '' -> '/', trailing slashes dropped except on the root;
    * query params: empties + tracking params (``tracking_re``, a
      whole-param regex) dropped, the rest SORTED bytewise, '?' dropped
      when nothing survives.

    Pure single-row string expression (renders for both engines): runs
    in the scan projection under whole-stage codegen — no UDF, no
    shuffle.  NULL in -> NULL out."""
    _check(d)
    u = f"trim({url})"
    scheme = (
        f"lower({regexp_extract_g(u, r'^([A-Za-z][A-Za-z0-9+.-]*)://', 1, d)})"
    )
    rest = regexp_replace_all(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "", d)
    nofrag = regexp_replace_all(rest, r"#.*$", "", d)
    authority = regexp_extract_g(nofrag, r"^([^/?]*)", 1, d)
    pathq = f"substring({nofrag}, length({authority}) + 1)"
    rawpath = regexp_extract_g(pathq, r"^([^?]*)", 1, d)
    query = regexp_extract_g(pathq, r"\?(.*)$", 1, d)
    hostport = regexp_replace_all(f"lower({authority})", r"^[^@]*@", "", d)
    host = regexp_replace_all(
        regexp_extract_g(hostport, r"^([^:]*)", 1, d), r"\.$", "", d
    )
    port = regexp_extract_g(hostport, r":([0-9]+)$", 1, d)
    keep_port = (
        f"(CASE WHEN {port} = '' THEN '' "
        f"WHEN {scheme} = 'http' AND {port} = '80' THEN '' "
        f"WHEN {scheme} = 'https' AND {port} = '443' THEN '' "
        f"ELSE concat(':', {port}) END)"
    )
    # strip trailing slashes, then map the empty result ('' input, '/'
    # or any slashes-only path) back to '/': '//' must equal '/'
    stripped = regexp_replace_all(rawpath, "/+$", "", d)
    path = f"(CASE WHEN {stripped} = '' THEN '/' ELSE {stripped} END)"
    params = filter_(
        split_char(query, "&", d), "p",
        f"p <> '' AND NOT {rmatch('p', tracking_re, d)}", d,
    )
    # DuckDB's array_to_string returns NULL (not '') on an empty list
    q2 = f"coalesce({concat_ws_arr('&', array_sort_(params, d), d)}, '')"
    prefix = (
        f"(CASE WHEN {scheme} = '' THEN '' "
        f"ELSE concat({scheme}, '://') END)"
    )
    canon = (
        f"concat({prefix}, {host}, {keep_port}, {path}, "
        f"CASE WHEN {q2} = '' THEN '' ELSE concat('?', {q2}) END)"
    )
    return f"(CASE WHEN {url} IS NULL THEN NULL ELSE {canon} END)"


# second-level labels under which the registrable domain needs THREE
# labels (the public-suffix-list idea, condensed to the common cases —
# swap in a full PSL table join for exactness at production scale)
_PSL_SECOND = ("co", "com", "net", "org", "gov", "ac", "edu")


def url_host(url: str, d: str) -> str:
    """Lowercased host of a URL (userinfo/port/trailing dot dropped)."""
    rest = regexp_replace_all(
        f"trim({url})", r"^[A-Za-z][A-Za-z0-9+.-]*://", "", d
    )
    authority = regexp_extract_g(rest, r"^([^/?#]*)", 1, d)
    hostport = regexp_replace_all(f"lower({authority})", r"^[^@]*@", "", d)
    return regexp_replace_all(
        regexp_extract_g(hostport, r"^([^:]*)", 1, d), r"\.$", "", d
    )


def registrable_domain(host: str, d: str) -> str:
    """eTLD+1 heuristic: last two labels, or last three when the
    second-to-last label is a common public-suffix second level
    (``example.co.uk`` -> ``example.co.uk``, not ``co.uk``)."""
    two = regexp_extract_g(host, r"([^.]+\.[^.]+)$", 1, d)
    three = regexp_extract_g(host, r"([^.]+\.[^.]+\.[^.]+)$", 1, d)
    second = regexp_extract_g(host, r"([^.]+)\.[^.]+$", 1, d)
    sec_list = str_array_lit(list(_PSL_SECOND), d)
    return (
        f"(CASE WHEN {three} <> '' AND {contains(sec_list, second, d)} "
        f"THEN {three} WHEN {two} <> '' THEN {two} ELSE {host} END)"
    )


# --------------------------------------------------------------------------
# encoding-artifact (mojibake) detection
# --------------------------------------------------------------------------

# UTF-8 bytes re-decoded as Latin-1 / Windows-1252: 'A-tilde' or
# 'a-circumflex' or 'A-circumflex' followed by a continuation-range
# char — as Latin-1 that range is U+0080-U+00BF, as cp1252 the same
# bytes surface as the smart-punctuation block (Euro, dagger, curly
# quotes, ...), so both alternatives are matched
MOJIBAKE_RE = (
    "[ÃâÂ]"
    "[\\x{0080}-\\x{00BF}€‚ƒ„…†‡"
    "ˆ‰Š‹ŒŽ‘’“”"
    "•–—˜™š›œžŸ]"
)
REPLACEMENT_CHAR_RE = "�"
CONTROL_CHAR_RE = (
    "[\\x{0001}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}]"
)


def encoding_artifact_counts(s: str, d: str) -> tuple[str, str, str]:
    """(mojibake, replacement-char, control-char) match counts for a
    text expression — the cheap corpus-hygiene scan that catches
    double-decoded UTF-8 and truncation damage before training.

    The patterns use ``\\x{hhhh}`` escapes, valid in BOTH Java regex
    (Spark) and RE2 (DuckDB); ``regex_lit`` handles the per-engine
    backslash quoting."""
    return (
        regexp_count(s, MOJIBAKE_RE, d),
        regexp_count(s, REPLACEMENT_CHAR_RE, d),
        regexp_count(s, CONTROL_CHAR_RE, d),
    )


# --------------------------------------------------------------------------
# HTML text extraction (main-content signals a crawl pipeline needs
# BEFORE any quality scoring: tag/script/comment removal, entity
# decode, and the jusText/trafilatura-style link-density boilerplate
# signal).  All pure regex/replace chains — the flags used ((?i)/(?s),
# non-greedy .*?) are valid in BOTH Java regex (Spark) and RE2
# (DuckDB); no backreferences anywhere (RE2 has none).
# --------------------------------------------------------------------------


def _strip_noise_html(s: str, d: str) -> str:
    """Remove comments and whole <script>/<style> elements."""
    out = regexp_replace_all(s, r"(?s)<!--.*?-->", "", d)
    out = regexp_replace_all(out, r"(?is)<script\b[^>]*>.*?</script\s*>", "", d)
    out = regexp_replace_all(out, r"(?is)<style\b[^>]*>.*?</style\s*>", "", d)
    return out


def decode_html_entities(s: str, d: str) -> str:
    """Decode the common named entities (the set that dominates real
    pages).  ``&amp;`` decodes LAST so ``&amp;lt;`` correctly yields the
    literal ``&lt;``; quote entities go through ``chr()`` so no SQL
    string literal ever contains a quote character."""
    out = f"replace({s}, '&nbsp;', ' ')"
    out = f"replace({out}, '&lt;', '<')"
    out = f"replace({out}, '&gt;', '>')"
    out = f"replace({out}, '&quot;', chr(34))"
    out = f"replace({out}, '&#39;', chr(39))"
    out = f"replace({out}, '&apos;', chr(39))"
    return f"replace({out}, '&amp;', '&')"


def _tags_to_space(s: str, d: str) -> str:
    """Replace tags with a space.  Mirrors the HTML5 tokenizer's rule
    that only ``<`` followed by a letter, ``/``, or ``!`` opens markup
    — bare comparisons like ``a < b`` stay literal text."""
    return regexp_replace_all(s, r"<(/?[A-Za-z]|!)[^>]*>", " ", d)


def html_to_text(html: str, d: str) -> str:
    """Visible text of an HTML document: comments + <script>/<style>
    elements removed, every remaining tag replaced by a space, common
    entities decoded, whitespace collapsed, trimmed.  NULL in -> NULL
    out.  One chained scan-projection expression (whole-stage codegen;
    no UDF, no shuffle)."""
    _check(d)
    out = _tags_to_space(_strip_noise_html(html, d), d)
    out = decode_html_entities(out, d)
    collapsed = regexp_replace_all(out, r"\s+", " ", d)
    return f"trim({collapsed})"


def html_anchor_texts(html: str, d: str) -> str:
    """Array of the visible texts of every ``<a>`` element (inner HTML
    tag-stripped + entity-decoded + collapsed).  Non-greedy per-anchor
    match; nested anchors are illegal HTML and not handled."""
    pat = regex_lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>", d)
    inners = f"regexp_extract_all({_strip_noise_html(html, d)}, {pat}, 1)"
    clean = decode_html_entities(_tags_to_space("a", d), d)
    collapsed = regexp_replace_all(clean, r"\s+", " ", d)
    return transform(inners, "a", f"trim({collapsed})", d)


def link_density_ppm(html: str, d: str) -> str:
    """Anchor-text characters as exact integer ppm of all visible text
    characters — THE classic boilerplate/navigation-page signal
    (jusText, Pomikalek 2011; trafilatura).  0 when the page has no
    visible text."""
    anchor_chars = reduce_bigint(
        transform(html_anchor_texts(html, d), "t", "length(t)", d),
        0, "acc + c", d,
    )
    total = f"cast(length({html_to_text(html, d)}) as bigint)"
    ppm = int_div(f"({anchor_chars}) * 1000000", f"({total})", d)
    return f"(case when ({total}) = 0 then cast(0 as bigint) else {ppm} end)"


# --------------------------------------------------------------------------
# license / reuse-signal detection (corpus-compliance scan)
# --------------------------------------------------------------------------

#: whole-text regexes for reuse signals; keys are the output column
#: names.  Case-insensitive; plain-language AND license-URL forms.
LICENSE_SIGNAL_RES: dict[str, str] = {
    "cc_license": (
        r"(?i)creative\s+commons|creativecommons\.org/licenses/"
        r"|\bCC[- ]BY(-(SA|NC|ND|NC-SA|NC-ND))?\b"
    ),
    "public_domain": r"(?i)public\s+domain|\bCC0\b|publicdomain/zero",
    "rights_reserved": r"(?i)all\s+rights\s+reserved",
    "ai_opt_out": r"(?i)\bnoai\b|\bnoimageai\b|\bnoml\b",
}


def license_signal_flags(s: str, d: str) -> dict[str, str]:
    """(name -> boolean expression) for each reuse signal over ``s``."""
    return {
        name: rmatch(f"coalesce({s}, '')", pat, d)
        for name, pat in LICENSE_SIGNAL_RES.items()
    }


def regex_lit_q(pattern: str, d: str) -> str:
    """Like :func:`regex_lit`, but the pattern may contain single
    quotes: the literal is emitted as a ``concat(..., chr(39), ...)``
    of quote-free pieces (constant-folded by both engines, so the
    regexp functions still see a foldable pattern).  RE2 has no
    backreferences, so patterns needing a quote character cannot fall
    back to the (['\"]).*?\\1 trick — this is the supported way."""
    pieces = pattern.split("'")
    if len(pieces) == 1:
        return regex_lit(pattern, d)
    lits = [regex_lit(p, d) for p in pieces]
    return "concat(" + ", chr(39), ".join(lits) + ")"


def html_hrefs(html: str, d: str) -> str:
    """Array of ``href`` attribute values of every ``<a>`` tag:
    double-quoted, then single-quoted, then unquoted attribute forms —
    document order WITHIN each class, classes concatenated in that
    order (the three patterns are disjoint by the first character
    after ``=``, so no href is reported twice and values containing
    the other quote character come through verbatim).
    Case-insensitive tag/attribute names; script/style/comment blocks
    are stripped first so commented-out markup contributes nothing."""
    h = _strip_noise_html(html, d)
    dq = regex_lit(r'(?is)<a\b[^>]*?href\s*=\s*"([^"]*)"', d)
    sq = regex_lit_q("(?is)<a\\b[^>]*?href\\s*=\\s*'([^']*)'", d)
    bare = regex_lit_q('(?is)<a\\b[^>]*?href\\s*=\\s*([^\\s"\'>]+)', d)
    arrs = [f"regexp_extract_all({h}, {p}, 1)" for p in (dq, sq, bare)]
    if d == SPARK:
        return f"concat({arrs[0]}, {arrs[1]}, {arrs[2]})"
    return f"list_concat(list_concat({arrs[0]}, {arrs[1]}), {arrs[2]})"


def link_host(href: str, base_host: str, d: str) -> str:
    """Destination HOST of a link, resolved against ``base_host``:
    absolute URLs keep their own host; protocol-relative ``//h/p``
    takes ``h``; root-relative and path-relative links stay on
    ``base_host``; fragment-only and non-navigational schemes
    (mailto:, javascript:, tel:, data:) resolve to NULL.  Domain-level
    resolution only — the path part is irrelevant for a site-to-site
    link graph, so no directory-relative path algebra is needed."""
    h = f"trim({href})"
    is_abs = rmatch(h, r"^[A-Za-z][A-Za-z0-9+.-]*://", d)
    is_proto_rel = rmatch(h, r"^//", d)
    is_nonnav = rmatch(
        h, r"^(#|$)|^(?i:mailto|javascript|tel|data):", d
    )
    proto_host = url_host(f"concat('http:', {h})", d)
    return (
        f"(CASE WHEN {h} IS NULL OR {is_nonnav} THEN NULL "
        f"WHEN {is_abs} THEN {url_host(h, d)} "
        f"WHEN {is_proto_rel} THEN {proto_host} "
        f"ELSE {base_host} END)"
    )


# --------------------------------------------------------------------------
# robots.txt (RFC 9309) rule matching
# --------------------------------------------------------------------------


def regex_escape_col(expr: str, d: str) -> str:
    """Escape regex metacharacters in a string COLUMN (for building a
    per-row pattern).  Replacement backreference syntax differs: Spark
    ``$1``, DuckDB ``\\1``."""
    if d == SPARK:
        return (
            f"regexp_replace({expr}, "
            r"'([.+?(){}\\[\\]|^$*\\\\])', '\\\\$1')"
        )
    return (
        f"regexp_replace({expr}, "
        r"'([.+?(){}\[\]|^$*\\])', '\\\1', 'g')"
    )


def robots_rule_regex(rule: str, d: str) -> str:
    """Anchored regex for an RFC 9309 path rule: metachars escaped,
    ``*`` becomes ``.*``, a trailing ``$`` becomes an end anchor, and
    the whole pattern is start-anchored (robots rules are
    path-prefix matches)."""
    esc = regex_escape_col(rule, d)
    star = f"replace({esc}, concat(chr(92), '*'), '.*')"
    tail = "concat(chr(92), '$')"
    unanchored = (
        f"(CASE WHEN right({star}, 2) = {tail} "
        f"THEN concat(left({star}, length({star}) - 2), '$') "
        f"ELSE {star} END)"
    )
    return f"concat('^', {unanchored})"


def regexp_like_col(s: str, pattern_expr: str, d: str) -> str:
    """Regex containment where the PATTERN is a per-row expression
    (verified supported by both engines)."""
    if d == SPARK:
        return f"regexp_like({s}, {pattern_expr})"
    return f"regexp_matches({s}, {pattern_expr})"


def url_pathq(url: str, d: str) -> str:
    """Path-plus-query of a URL ('' scheme/authority stripped; empty
    path -> '/'; fragment dropped) — the string robots rules match
    against."""
    rest = regexp_replace_all(
        f"trim({url})", r"^[A-Za-z][A-Za-z0-9+.-]*://", "", d
    )
    nofrag = regexp_replace_all(rest, r"#.*$", "", d)
    authority = regexp_extract_g(nofrag, r"^([^/?]*)", 1, d)
    pq = f"substring({nofrag}, length({authority}) + 1)"
    # an empty path still queries against '/' — both for bare hosts
    # ('https://a.com') and query-only URLs ('https://a.com?id=1'),
    # where robots '/'-prefixed rules must still match
    return (
        f"(CASE WHEN {pq} = '' THEN '/' "
        f"WHEN left({pq}, 1) = '?' THEN concat('/', {pq}) "
        f"ELSE {pq} END)"
    )
