"""Property-based tests (hypothesis) for the pure-Python core —
engine_url round-trips, resolver substitution, Pinnate wrap/unwrap."""

import json
import string

from hypothesis import given, settings
from hypothesis import strategies as st

from ayeaye_spark.core.engine_url import parse_engine_url
from ayeaye_spark.core.pinnate import Pinnate
from ayeaye_spark.core.resolver import ConnectorResolver

ident = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=8)
locator = st.text(
    alphabet=string.ascii_letters + string.digits + "/._-", min_size=1, max_size=30
)
opt_value = st.text(
    alphabet=string.ascii_letters + string.digits + "_-.@()", max_size=12
)


@settings(max_examples=200, deadline=None)
@given(
    engine_type=ident,
    modifiers=st.lists(ident, max_size=2),
    loc=locator,
    options=st.dictionaries(ident, opt_value, max_size=3),
)
def test_engine_url_roundtrip(engine_type, modifiers, loc, options):
    prefix = "+".join(modifiers)
    url = f"{prefix + '+' if prefix else ''}{engine_type}://{loc}"
    url += "".join(f";{k}={v}" for k, v in options.items())
    parsed = parse_engine_url(url)
    assert parsed.engine_type == engine_type
    assert parsed.modifiers == tuple(modifiers)
    assert parsed.locator == loc
    for k, v in options.items():
        assert parsed.option(k) == v
    # canonical form re-parses to the same structure
    again = parse_engine_url(str(parsed))
    assert again.engine_type == parsed.engine_type
    assert again.options == parsed.options


@settings(max_examples=100, deadline=None)
@given(values=st.dictionaries(ident, st.text(string.printable, max_size=20), min_size=1, max_size=4))
def test_resolver_substitutes_every_named_value(values):
    resolver = ConnectorResolver()
    resolver.add(**values)
    template = "x://" + "/".join("{" + k + "}" for k in values)
    resolved = resolver.resolve(template)
    assert resolved == "x://" + "/".join(str(v) for v in values.values())


json_scalars = st.one_of(st.none(), st.booleans(), st.integers(), st.text(max_size=10))
json_values = st.recursive(
    json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(ident, children, max_size=3),
    ),
    max_leaves=10,
)


@settings(max_examples=200, deadline=None)
@given(payload=st.dictionaries(ident, json_values, max_size=4))
def test_pinnate_roundtrip(payload):
    p = Pinnate(payload)
    assert p.as_native() == payload
    assert json.loads(p.as_json()) == json.loads(json.dumps(payload, default=str))
    for k in payload:
        wrapped = getattr(p, k)
        if isinstance(wrapped, Pinnate):
            assert wrapped.as_native() == payload[k]


@settings(max_examples=300, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=50),
                    min_size=1, max_size=60),
    pct=st.integers(min_value=1, max_value=100),
)
def test_vocab_coverage_closed_form_equals_naive_ranking(counts, pct):
    """The count-CLASS closed form used by ``text.vocab_coverage``
    (vocab_size = prev_toks + ceil((target - prev_mass) / c) inside the
    crossing class) must equal ranking every token individually by
    (count DESC, token ASC) for ANY frequency multiset and ANY pct —
    the tie-interchangeability argument, property-tested."""
    from collections import Counter

    # token names don't matter for coverage: synthesize distinct ids
    ranked = sorted(counts, reverse=True)
    T = sum(ranked)
    target = (T * pct + 99) // 100

    # naive: rank every token, find min rank with cum >= target
    cum, naive = 0, None
    for rn, c in enumerate(ranked, 1):
        cum += c
        if cum >= target:
            naive = (rn, cum)
            break
    assert naive is not None  # pct <= 100 always crosses

    # closed form over count classes (count value -> n tokens)
    classes = sorted(Counter(counts).items(), reverse=True)
    prev_mass = prev_toks = 0
    closed = None
    for c, n in classes:
        cum_mass = prev_mass + c * n
        if prev_mass < target <= cum_mass:
            j = (target - prev_mass + c - 1) // c
            closed = (prev_toks + j, prev_mass + j * c)
            break
        prev_mass, prev_toks = cum_mass, prev_toks + n
    assert closed == naive


@settings(max_examples=200, deadline=None)
@given(
    words=st.lists(
        st.text(alphabet="abcdef'", min_size=1, max_size=8),
        min_size=1, max_size=30,
    ),
    n_merges=st.integers(min_value=1, max_value=5),
)
def test_bpe_replace_encoding_equals_greedy_fold(words, n_merges):
    """The separator-string replace encoding of a BPE merge (what
    ``P.bpe_piece_count`` compiles to SQL) must equal the greedy
    left-to-right fold for ANY word and ANY merge sequence learned
    from the words themselves — including overlapping runs."""
    from collections import Counter

    # learn merges the same way bpe_top_merges does
    wf = Counter(words)
    vocab = {w: list(w) for w in wf}
    merges = []
    for _ in range(n_merges):
        stats = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                stats[(a, b)] += wf[w]
        if not stats:
            break
        (l, r), cnt = min(stats.items(),
                          key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        merges.append((l, r))
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == l and s == r:
                    out[-1] = l + r
                else:
                    out.append(s)
            vocab[w] = out

    # replicate the string-accumulator step P.bpe_piece_count compiles
    # to SQL: append SEP+s, or rewrite the trailing piece to l+r when
    # the incoming piece EQUALS r and the last piece EQUALS l (exact
    # whole-piece suffix check — the earlier replace('l SEP r','lr')
    # encoding failed here: it also fired when the right piece merely
    # STARTED with r, e.g. pieces [r, er] under merge (r, e))
    SEP = "\x01"
    for w in wf:
        seg = SEP.join(list(w))
        for l, r in merges:
            acc = ""
            for s in seg.split(SEP):
                if acc == "":
                    acc = s
                elif s == r and (acc == l or acc.endswith(SEP + l)):
                    acc = acc[: len(acc) - len(l)] + l + r
                else:
                    acc = acc + SEP + s
            seg = acc
        assert len(seg.split(SEP)) == len(vocab[w]), (w, merges)


@settings(max_examples=200, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.floats(min_value=-1, max_value=1, allow_nan=False),
            st.floats(min_value=-1, max_value=1, allow_nan=False),
            st.floats(min_value=-1, max_value=1, allow_nan=False),
        ),
        min_size=1, max_size=12,
    ),
    qv=st.tuples(
        st.floats(min_value=-1, max_value=1, allow_nan=False),
        st.floats(min_value=-1, max_value=1, allow_nan=False),
        st.floats(min_value=-1, max_value=1, allow_nan=False),
    ),
    k=st.integers(min_value=1, max_value=12),
    # lam floor 0.01: subnormal lam (hypothesis found 5e-324) makes
    # lam*rel underflow differently between numpy's vectorized path
    # (SIMD flush-to-zero) and the python scalar re-verification —
    # a float-pathology tie-break, not a greedy property
    lam=st.floats(min_value=0.01, max_value=1, allow_nan=False,
                  allow_subnormal=False),
)
def test_mmr_greedy_invariants(data, qv, k, lam):
    _check_mmr_greedy(data, qv, k, lam)


def test_mmr_greedy_exact_tie_breaks_by_id():
    """Rows 0 and 1 tie on the objective at exactly 0 for the second
    pick (row 1 is the zero vector, row 0 is orthogonal to the query);
    the smaller id must win."""
    data = [(1.0, 1.0, 0.0), (0.0, 0.0, 0.0), (0.5, -0.5, 0.0)]
    _check_mmr_greedy(data, (0.5, -0.5, 0.0), k=2, lam=0.5)


def test_mmr_greedy_penalty_matches_gram_matrix():
    """Second pick: row 2's penalty is sim(2, 1), which the Gram matrix
    puts at exactly rel[2], so row 2 scores 0 and ties with the zero row
    0.  A matrix-vector product put sim(2, 1) 1 ulp lower, row 2 scored
    5.55e-17 and won over row 0."""
    data = [(0.0, 0.0, 0.0), (-0.75, 0.5, -0.25), (-0.25, 0.5, -0.5)]
    _check_mmr_greedy(data, data[1], k=2, lam=0.5)


def test_mmr_greedy_underflowing_norm_is_a_zero_vector():
    """Row 1's squared norm (3.2e-318) is subnormal, so its root is
    9e-8 low and dividing by it gave a "unit" vector whose cosine with
    row 0 was 1.00000009: the second pick then scored below
    ``lam * rel - (1 - lam)``.  As a zero vector it carries no penalty."""
    data = [(1.0, 0.0, 0.0), (1.7792251686871502e-159, 0.0, 0.0)]
    _check_mmr_greedy(data, (0.0, 0.0, 0.0), k=2, lam=0.5)


def _check_mmr_greedy(data, qv, k, lam):
    """Property-pins for the MMR core (``similarity._mmr_greedy``):
    (a) picked ids are distinct and ranks dense 1..m;
    (b) lam=1 degenerates to plain (relevance desc, id asc) ranking;
    (c) every pick maximizes the MMR objective given the prior picks
        (re-verified post-hoc from scratch — catches accumulator bugs
        in the incremental max_sim update);
    (d) the clamped penalty keeps every score >= lam*rel - (1-lam)."""
    import numpy as np

    from ayeaye_spark.operators.similarity import _mmr_greedy

    mat = np.array(data, dtype=np.float64)
    q = np.array(qv, dtype=np.float64)
    qn = np.linalg.norm(q) or 1.0
    sq = (mat * mat).sum(axis=1)
    # a squared norm below the smallest normal double is a zero vector
    # (the kernel's documented rule; its root has lost its precision)
    safe = np.where(sq < np.finfo(np.float64).tiny, 1.0, np.sqrt(sq))
    rel = (mat @ q) / (safe * qn)
    ids = list(range(len(data)))
    out = _mmr_greedy(ids, rel.copy(), mat.copy(), k=k, lam=lam)

    m = min(k, len(ids))
    assert [r[0] for r in out] == list(range(1, m + 1))          # (a)
    picked = [r[1] for r in out]
    assert len(set(picked)) == len(picked)                       # (a)

    if lam == 1.0:                                               # (b)
        expect = [i for i in sorted(ids, key=lambda i: (-rel[i], i))][:m]
        assert picked == expect

    unit = mat / safe[:, None]
    sims = unit @ unit.T
    chosen: list[int] = []
    for rank, pid, r_rel, r_score in out:                        # (c)
        def objective(i):
            if not chosen:
                return lam * rel[i]
            pen = max(0.0, max(sims[i][j] for j in chosen))
            return lam * rel[i] - (1.0 - lam) * pen
        cand = [i for i in ids if i not in chosen]
        best = min(cand, key=lambda i: (-objective(i), i))
        assert pid == best
        assert abs(objective(best) - r_score) < 1e-9
        assert r_score >= lam * rel[best] - (1.0 - lam) - 1e-9   # (d)
        chosen.append(best)


@settings(max_examples=300, deadline=None)
@given(
    c1=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
    c2=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=25),
)
def test_corpus_drift_cross_multiplied_form(c1, c2):
    """The exact integer ppm L1 form used by ``docs_corpus_drift``
    (Σ|c1·T2 − c2·T1|·1e6 // (T1·T2)) must (a) agree with the float
    definition Σ|p1 − p2| to within integer-floor error, (b) be 0 for
    identical distributions, (c) be floor(2e6·…) = 2e6 for disjoint
    supports."""
    n = max(len(c1), len(c2))
    a = c1 + [0] * (n - len(c1))
    b = c2 + [0] * (n - len(c2))
    t1, t2 = sum(a), sum(b)
    if t1 == 0 or t2 == 0:
        return
    exact = sum(abs(x * t2 - y * t1) for x, y in zip(a, b)) * 1_000_000 // (t1 * t2)
    flt = sum(abs(x / t1 - y / t2) for x, y in zip(a, b)) * 1_000_000
    assert abs(exact - flt) <= 1.0 + 1e-6 * flt                  # (a)
    same = sum(abs(x * t1 - x * t1) for x in a)
    assert same == 0                                             # (b)
    # (c) construct disjointness: a-support then b-support
    da = a + [0] * len(b)
    db = [0] * len(a) + b
    exact_dis = sum(
        abs(x * t2 - y * t1) for x, y in zip(da, db)
    ) * 1_000_000 // (t1 * t2)
    assert exact_dis == 2_000_000


@settings(max_examples=300, deadline=None)
@given(
    ns=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=50),
    budget=st.integers(min_value=4, max_value=64),
)
def test_pack_assignment_contiguous_fill_invariants(ns, budget):
    """The pack_id formula used by ``sampling.pack_sequences`` /
    ``tokenize_pack_shards`` (pack = (cum − n) // budget, i.e. a doc
    joins the pack its STARTING offset falls in) must satisfy the
    contiguous-fill contract for any token-count sequence:
    (a) pack ids are non-decreasing along the doc order;
    (b) every doc's starting offset lies inside its pack's window;
    (c) a pack's total never exceeds budget + (its last doc − 1) —
        the at-most-one-doc overflow bound;
    (d) packs are gapless EXCEPT where one doc spans whole windows."""
    cum = 0
    packs = {}
    last_pid = 0
    prev_end_pid = 0
    for n in ns:
        start = cum
        cum += n
        pid = start // budget
        assert pid >= last_pid                                    # (a)
        assert pid * budget <= start < (pid + 1) * budget         # (b)
        # (d): any gap from the previous doc's pack must be covered by
        # that doc's span crossing whole windows
        assert pid <= prev_end_pid + 1
        packs.setdefault(pid, []).append(n)
        last_pid = pid
        prev_end_pid = (cum - 1) // budget
    for pid, members in packs.items():                            # (c)
        assert sum(members) <= budget + members[-1] - 1


# --------------------------------------------------------------------------
# canonical_url properties (evaluated in DuckDB — single-row, ms per
# example; Spark/DuckDB bit-parity is separately pinned by the
# cross-engine fuzz suite in test_portable_fuzz.py)
# --------------------------------------------------------------------------

import duckdb as _duckdb

from ayeaye_spark.functions import portable as _P

_CON = _duckdb.connect()


def _canon(u):
    return _CON.execute(
        f"SELECT {_P.canonical_url('u', _P.DUCKDB)} FROM (SELECT ? AS u)",
        [u],
    ).fetchone()[0]


_label = st.text(alphabet=string.ascii_letters + string.digits, min_size=1,
                 max_size=6)
_seg = st.text(alphabet=string.ascii_letters + string.digits + "._-",
               min_size=1, max_size=8)
_pkey = st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5)


@st.composite
def _urls(draw):
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HTTPS"]))
    user = draw(st.sampled_from(["", "user@", "u:p@"]))
    host = ".".join(draw(st.lists(_label, min_size=1, max_size=3)))
    dot = draw(st.sampled_from(["", "."]))
    port = draw(st.sampled_from(["", ":80", ":443", ":8080"]))
    segs = draw(st.lists(_seg, max_size=3))
    trail = draw(st.sampled_from(["", "/", "//"]))
    path = ("/" + "/".join(segs) if segs else "") + trail
    params = draw(st.dictionaries(_pkey, _seg, max_size=3))
    query = "&".join(f"{k}={v}" for k, v in params.items())
    frag = draw(st.sampled_from(["", "#x", "#frag/section"]))
    url = f"{scheme}://{user}{host}{dot}{port}{path}"
    if query:
        url += f"?{query}"
    return url + frag


@settings(max_examples=150, deadline=None)
@given(url=_urls())
def test_canonical_url_idempotent(url):
    once = _canon(url)
    assert _canon(once) == once


@settings(max_examples=150, deadline=None)
@given(url=_urls(), tracking=st.sampled_from(
    ["utm_source=x", "gclid=abc123", "fbclid=1", "utm_campaign=q&yclid=9"]))
def test_canonical_url_invariant_under_noise(url, tracking):
    """Tracking params, fragments, and host case never change the
    canonical form."""
    base = _canon(url)
    sep = "&" if "?" in url.split("#")[0] else "?"
    head, _, frag = url.partition("#")
    noisy = head + sep + tracking + "#other"
    assert _canon(noisy) == base


@settings(max_examples=100, deadline=None)
@given(url=_urls())
def test_canonical_url_shape(url):
    """Canonical output is lowercase-scheme/host, unfragmented, has no
    tracking params, no default port, no userinfo."""
    c = _canon(url)
    assert "#" not in c
    assert "@" not in c.split("/", 3)[2] if c.count("/") >= 3 else True
    scheme, _, rest = c.partition("://")
    assert scheme == scheme.lower()
    hostport = rest.split("/", 1)[0]
    assert hostport == hostport.lower()
    # only the scheme's OWN default port is dropped
    if scheme == "http":
        assert not hostport.endswith(":80")
    if scheme == "https":
        assert not hostport.endswith(":443")
    assert "utm_" not in c and "gclid" not in c
