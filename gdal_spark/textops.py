"""Web-text dedup + analysis kernels: portable SQL builders.

The training-data-pipeline operators (exact dedup, MinHash+LSH, SimHash,
n-gram Jaccard, language-ID, quality scoring, token counting, document
fingerprinting) are expressed as **engine-parameterized SQL expression
builders**: the same arithmetic emitted in Spark SQL and DuckDB SQL
spellings, so the DuckDB oracle checks the exact math, not an
approximation. All Spark-side hot-path math is JVM Catalyst expressions
(whole-stage codegen; no Python in the scan path) — the same stance as
gdal_spark.cells/crs.

Reference precedent: GDAL's text processing surface is the OGR SQL string
functions (CONCAT/SUBSTR/LIKE, ogr/swq_op_general.cpp) and the geocoding
cache (ogr/ogr_geocoding.cpp:118-243); the dedup/fingerprint family is the
web-scale extension this engine adds on top (SURVEY.md §7 stance).

Scale design (100 TB pages table):
- every per-doc signature (minhash sig, simhash, fingerprints) is computed
  in one narrow pass over the table — shingle explode → groupBy(doc) is
  the only shuffle, keyed by doc id (uniform, no skew);
- LSH banding joins are equi-joins on (band, key) — AQE skew-join splits
  the hot buckets that exact-duplicate clusters create;
- candidate verification joins only candidate pairs (output of banding),
  never the full cross product.
"""

from __future__ import annotations

import random

SPARK = "spark"
DUCKDB = "duckdb"

P32 = 4294967291  # largest prime < 2^32: minhash permutation modulus
FP_MOD = 1000000007  # polynomial fingerprint modulus
FP_BASE = 31

N_MINHASH = 128
LSH_BANDS = 32
LSH_ROWS = 4  # 32 bands x 4 rows; catch prob at J=0.8 is 1-(1-0.8^4)^32 ≈ 1-5e-8

SIMHASH_BITS = 60  # bigint-safe in both engines (1<<63 overflows DuckDB)
SIMHASH_BANDS = 4  # 4 x 15 bits: hamming<=3 pairs share >=1 band (pigeonhole)

# Deterministic minhash permutation constants: a in [1, 2^30) keeps
# a*h32 + b < 2^63 (no bigint overflow in either engine).
_rng = random.Random(1234567)
MINHASH_A = [_rng.randrange(1, 1 << 30) for _ in range(N_MINHASH)]
MINHASH_B = [_rng.randrange(0, P32) for _ in range(N_MINHASH)]


# ---------------------------------------------------------------------------
# Portable primitives
# ---------------------------------------------------------------------------


def h60_sql(expr: str, engine: str) -> str:
    """Deterministic 60-bit string hash: first 15 hex digits of md5."""
    if engine == SPARK:
        return f"cast(conv(substr(md5({expr}),1,15),16,10) as bigint)"
    return f"cast(('0x' || substr(md5({expr}),1,15)) as bigint)"


def tokens_sql(text: str, engine: str) -> str:
    """Whitespace word tokens (regex ' +' after trim)."""
    if engine == SPARK:
        return f"split(trim({text}), ' +')"
    return f"string_split_regex(trim({text}), ' +')"


def shingles_sql(toks: str, k: int, engine: str) -> str:
    """k-word shingles joined by single spaces; a doc shorter than k words
    yields its single full-token shingle."""
    if engine == SPARK:
        return (
            f"transform(sequence(1, greatest(size({toks})-{k - 1}, 1)),"
            f" i -> concat_ws(' ', slice({toks}, i, {k})))"
        )
    return (
        f"list_transform(range(1, greatest(length({toks})-{k - 1}, 1)+1),"
        f" i -> array_to_string(list_slice({toks}, i, i+{k - 1}), ' '))"
    )


def segments_sql(toks: str, k: int, engine: str) -> str:
    """Non-overlapping k-word segments (stride k) joined by spaces — the
    paragraph stand-in for boilerplate detection on the fixture corpus
    (the synthetic text has no newlines); a trailing short segment keeps
    its remaining words."""
    if engine == SPARK:
        return (
            f"transform(sequence(0, (size({toks})-1) div {k}),"
            f" i -> concat_ws(' ', slice({toks}, i*{k}+1, {k})))"
        )
    return (
        f"list_transform(range(0, ((length({toks})-1)//{k})+1),"
        f" i -> array_to_string("
        f"list_slice({toks}, i*{k}+1, i*{k}+{k}), ' '))"
    )


def boilerplate_sql(doc_view: str, engine: str, k: int = 8,
                    min_docs: int = 3) -> str:
    """Boilerplate-segment analysis (the repeated-paragraph removal
    stage of a pretraining pipeline, CCNet/RefinedWeb style): a segment
    is boilerplate when it appears in >= min_docs distinct crawl docs;
    output is the per-doc segment count, boilerplate count and ratio.
    One shuffle keyed by segment text + one by doc — both with map-side
    partials; the 'common' side of the join is the tiny distinct
    boilerplate list (broadcastable)."""
    crawl = crawl_sql(doc_view, engine)
    segs = segments_sql(tokens_sql("text", engine), k, engine)
    return f"""
with crawl as ({crawl}),
seg_pos as (
  select crawl_id, {explode_sql(segs, "seg", engine)} from crawl
),
common as (
  select seg from seg_pos
  group by seg having count(distinct crawl_id) >= {min_docs}
),
per_doc as (
  select s.crawl_id,
         count(*) as n_segments,
         sum(case when c.seg is not null then 1 else 0 end) as n_boiler
  from seg_pos s left join common c on c.seg = s.seg
  group by s.crawl_id
)
select crawl_id, cast(n_segments as bigint) as n_segments,
       cast(n_boiler as bigint) as n_boiler,
       round(cast(n_boiler as double) / n_segments, 6) as boiler_ratio
from per_doc
"""


def repetition_sql(doc_view: str, engine: str) -> str:
    """Intra-document repetition metrics (the Gopher/RefinedWeb
    repetition filters): per doc the token count, the distinct-word
    fraction and the fraction of all 2-grams taken by the single most
    frequent 2-gram — high top-bigram fraction flags machine-generated
    or boilerplate-looping pages. Two shuffles keyed by doc (word and
    bigram counts), both with map-side partials; never cross-doc."""
    toks = tokens_sql("text", engine)
    bigrams = shingles_sql("_toks", 2, engine)
    return f"""
with t as (
  select doc_id, {toks} as _toks from {doc_view}
),
w as (
  select doc_id, {explode_sql('_toks', 'w', engine)} from t
),
wc as (
  select doc_id, cast(count(*) as bigint) as n_tokens,
         cast(count(distinct w) as bigint) as n_distinct
  from w group by doc_id
),
bg as (
  select doc_id, {explode_sql(bigrams, 'sh', engine)} from t
),
bc as (
  select doc_id, sh, count(*) as c from bg group by doc_id, sh
),
btop as (
  select doc_id, max(c) as max_c, cast(sum(c) as bigint) as n_bigrams
  from bc group by doc_id
)
select wc.doc_id, wc.n_tokens,
       round(cast(wc.n_distinct as double) / wc.n_tokens, 6)
         as distinct_word_frac,
       round(cast(btop.max_c as double) / btop.n_bigrams, 6)
         as top_bigram_frac
from wc join btop on wc.doc_id = btop.doc_id
"""


def explode_sql(arr_expr: str, alias: str, engine: str) -> str:
    if engine == SPARK:
        return f"explode({arr_expr}) as {alias}"
    return f"unnest({arr_expr}) as {alias}"


def bit_sql(expr: str, b: int, engine: str) -> str:
    """(expr >> b) & 1 in each dialect."""
    if engine == SPARK:
        return f"(shiftright({expr}, {b}) % 2)"
    return f"(({expr} >> {b}) & 1)"


def xor_sql(a: str, b: str, engine: str) -> str:
    return f"({a} ^ {b})" if engine == SPARK else f"xor({a}, {b})"


def char_fold_sql(text: str, engine: str, mod: int = FP_MOD,
                  base: int = FP_BASE) -> str:
    """Polynomial rolling fingerprint over characters:
    h = fold(chars, (h,c) -> (h*base + ascii(c)) % mod) — the document
    fingerprint (Karp–Rabin family)."""
    if engine == SPARK:
        return (
            f"aggregate(split({text}, ''), 0L,"
            f" (h, c) -> (h * {base} + ascii(c)) % {mod})"
        )
    return (
        f"list_reduce(list_concat([0],"
        f" list_transform(string_split({text}, ''), c -> ascii(c)::bigint)),"
        f" (h, c) -> (h * {base} + c) % {mod})"
    )


# ---------------------------------------------------------------------------
# Crawl synthesis: deterministic re-crawls with exact + near duplicates
# ---------------------------------------------------------------------------

NEAR_DUP_SUFFIX = " updatednote"  # one appended word: J = (w-2)/(w-1) >= 8/9


def crawl_sql(doc_view: str, engine: str) -> str:
    """documents → crawl table with deterministic duplicate structure:

    - every doc appears once as kind 'orig' (crawl_id = doc_id)
    - docs with doc_id % 5 == 2 are re-crawled byte-identically under a
      new crawl_id (+1,000,000) — exact duplicates
    - docs with doc_id % 7 == 3 are re-crawled with one appended word
      (+2,000,000) — near duplicates, 3-shingle Jaccard ≥ 8/9

    Identical SQL text in both engines (pure ANSI).
    """
    _ = engine  # shared spelling
    return f"""
select doc_id as crawl_id, doc_id as orig_id, text, lang, 'orig' as crawl_kind
from {doc_view}
union all
select doc_id + 1000000, doc_id, text, lang, 'dup' from {doc_view}
where doc_id % 5 = 2
union all
select doc_id + 2000000, doc_id, concat(text, '{NEAR_DUP_SUFFIX}'), lang, 'near'
from {doc_view} where doc_id % 7 = 3
"""


def shingle_rows_sql(doc_view: str, engine: str, k: int = 3) -> str:
    """crawl → distinct (crawl_id, sh) shingle rows with 32-bit hash h32."""
    toks = tokens_sql("text", engine)
    sh = shingles_sql("_toks", k, engine)
    h = h60_sql("sh", engine)
    return f"""
select crawl_id, sh, ({h}) % {P32} as h32 from (
  select distinct crawl_id, {explode_sql(sh, 'sh', engine)} from (
    select crawl_id, {toks} as _toks from ({crawl_sql(doc_view, engine)}) c
  ) t
) s
"""


def minhash_agg_exprs() -> list[str]:
    """The 128 per-doc signature aggregates (Spark SQL spellings; the
    oracle never needs the signature — it checks the exact-Jaccard
    ground truth instead)."""
    return [
        f"min(({a} * h32 + {b}) % {P32}) as s{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def simhash_sql(engine: str) -> str:
    """Aggregate expression list + combiner for the 60-bit SimHash over a
    doc's distinct-word hash set: bit b of the simhash is 1 iff
    sum(±1 per word, + if word-hash bit b set) > 0."""
    parts = []
    for b in range(SIMHASH_BITS):
        bit = bit_sql("wh", b, engine)
        parts.append(
            f"(case when sum(case when {bit} = 1 then 1 else -1 end) > 0"
            f" then cast({1 << b} as bigint) else 0 end)"
        )
    return " + ".join(parts)


def word_hash_rows_sql(doc_view: str, engine: str) -> str:
    """crawl → distinct (crawl_id, wh) word-hash rows (simhash features)."""
    toks = tokens_sql("text", engine)
    h = h60_sql("w", engine)
    return f"""
select distinct crawl_id, {h} as wh from (
  select crawl_id, {explode_sql('_toks', 'w', engine)} from (
    select crawl_id, {toks} as _toks from ({crawl_sql(doc_view, engine)}) c
  ) t
) s
"""


def simhash_table_sql(doc_view: str, engine: str) -> str:
    """crawl → (crawl_id, simhash)."""
    return (
        f"select crawl_id, {simhash_sql(engine)} as simhash"
        f" from ({word_hash_rows_sql(doc_view, engine)}) w group by crawl_id"
    )


# ---------------------------------------------------------------------------
# Text analysis: language-ID, quality, token counting
# ---------------------------------------------------------------------------

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # n-gram-heuristic language ID: characteristic high-frequency words.
    "en": ("the", "and", "of", "to", "is", "in", "that", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans"),
    "es": ("el", "los", "que", "las", "una", "por", "con", "para"),
    "pt": ("o", "os", "uma", "não", "mais", "como", "mas", "pelo"),
}


def lang_hits_sql(toks: str, lang: str, engine: str) -> str:
    words = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    if engine == SPARK:
        return (
            f"size(filter({toks}, t -> array_contains(array({words}), t)))"
        )
    return f"length(list_filter({toks}, t -> list_contains([{words}], t)))"


def langid_pred_sql(engine: str) -> str:
    """argmax over language marker-hit counts; 'und' when all zero.
    Ties resolve in the fixed key order of LANG_MARKERS (first max wins),
    expressed as a deterministic CASE chain valid in both engines."""
    langs = list(LANG_MARKERS)
    cases = []
    for i, lg in enumerate(langs):
        conds = [f"hits_{lg} > 0"]
        for j, other in enumerate(langs):
            if j < i:
                conds.append(f"hits_{lg} > hits_{other}")
            elif j > i:
                conds.append(f"hits_{lg} >= hits_{other}")
        cases.append(f"when {' and '.join(conds)} then '{lg}'")
    return "case " + " ".join(cases) + " else 'und' end"


# BPE-ish token regex: letter runs, digit runs, single non-alnum marks.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def regex_count_sql(text: str, pattern: str, engine: str) -> str:
    if engine == SPARK:
        return f"cast(regexp_count({text}, '{pattern}') as bigint)"
    return f"cast(length(regexp_extract_all({text}, '{pattern}')) as bigint)"


def arr_len_sql(arr: str, engine: str) -> str:
    if engine == SPARK:
        return f"cast(size({arr}) as bigint)"
    return f"cast(length({arr}) as bigint)"


# ---------------------------------------------------------------------------
# Staged pipelines (crs.apply_sql_stages / crs.stages_to_duckdb_sql shape):
# the same stage list, rendered per engine, runs as Catalyst withColumns and
# as nested DuckDB subqueries.
# ---------------------------------------------------------------------------


def langid_stages(engine: str) -> list[tuple[str, str]]:
    stages = [("_toks", tokens_sql("text", engine))]
    for lg in LANG_MARKERS:
        stages.append((f"hits_{lg}",
                       f"cast({lang_hits_sql('_toks', lg, engine)} as bigint)"))
    stages.append(("lang_pred", langid_pred_sql(engine)))
    return stages


def quality_stages(engine: str) -> list[tuple[str, str]]:
    """Quality scoring: length/stopword/punctuation ratios combined into a
    [0,1] score. Raw doubles feed the score; rounded views are emitted."""
    return [
        ("_toks", tokens_sql("text", engine)),
        ("n_tokens", arr_len_sql("_toks", engine)),
        ("n_chars_t", "cast(length(text) as bigint)"),
        ("punct_cnt", regex_count_sql("text", "[.,!?;:]", engine)),
        ("stop_hits",
         f"cast({lang_hits_sql('_toks', 'en', engine)} as bigint)"),
        ("_awl", "cast(length(replace(text, ' ', '')) as double) / n_tokens"),
        ("_pr", "cast(punct_cnt as double) / n_chars_t"),
        ("_sr", "cast(stop_hits as double) / n_tokens"),
        ("quality",
         "round(0.4 * least(n_tokens, 100) / 100.0 + 0.4 * _sr"
         " + 0.2 * (1.0 - _pr), 6)"),
        ("avg_wlen", "round(_awl, 6)"),
        ("punct_ratio", "round(_pr, 6)"),
        ("stop_ratio", "round(_sr, 6)"),
    ]


def token_count_stages(engine: str) -> list[tuple[str, str]]:
    return [
        ("_toks", tokens_sql("text", engine)),
        ("ws_tokens", arr_len_sql("_toks", engine)),
        ("re_tokens", regex_count_sql("text", TOKEN_REGEX, engine)),
    ]


def fingerprint_stages(engine: str) -> list[tuple[str, str]]:
    return [
        ("fp", char_fold_sql("text", engine)),
        ("fp64", char_fold_sql("substr(text, 1, 64)", engine)),
    ]


# ---------------------------------------------------------------------------
# PII scan (the redaction pre-pass of a pretraining pipeline) and
# deterministic stratified sampling (reproducible data mixing).
# ---------------------------------------------------------------------------

# backslash-free patterns: Spark (Java regex) processes backslash escapes
# inside string literals while DuckDB (RE2) keeps them — classes and
# bounded quantifiers behave identically in both engines
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def pii_text_sql(text: str) -> str:
    """Deterministic PII injection over the synthetic corpus (shared
    ANSI text): docs with doc_id % 7 = 0 gain an email token, docs with
    doc_id % 11 = 0 a phone token, so the scan has a non-trivial,
    exactly-reproducible ground truth on the fixture tables."""
    return (
        f"concat({text},"
        f" case when doc_id % 7 = 0 then"
        f" concat(' user', doc_id, '@example.com') else '' end,"
        f" case when doc_id % 11 = 0 then"
        f" concat(' 555-', lpad(cast(doc_id % 1000 as string), 3, '0'),"
        f" '-', lpad(cast(doc_id % 10000 as string), 4, '0'))"
        f" else '' end)"
    )


def pii_scan_stages(engine: str) -> list[tuple[str, str]]:
    """Per-doc PII counts + the redacted character count (what a
    regexp_replace redaction pass would remove): pure narrow Catalyst
    stages, no shuffle — the 100 TB shape is a map over the text
    column."""
    email = regex_count_sql("_pii_text", PII_EMAIL_RE, engine)
    phone = regex_count_sql("_pii_text", PII_PHONE_RE, engine)
    if engine == SPARK:
        red = (f"length(_pii_text) - length(regexp_replace("
               f"regexp_replace(_pii_text, '{PII_EMAIL_RE}', ''),"
               f" '{PII_PHONE_RE}', ''))")
    else:
        red = (f"length(_pii_text) - length(regexp_replace("
               f"regexp_replace(_pii_text, '{PII_EMAIL_RE}', '', 'g'),"
               f" '{PII_PHONE_RE}', '', 'g'))")
    return [
        ("n_email", email),
        ("n_phone", phone),
        ("pii_chars", f"cast({red} as bigint)"),
        ("has_pii", "(n_email > 0 or n_phone > 0)"),
    ]


def pii_scan_sql(doc_view: str, engine: str) -> str:
    base = (f"select doc_id, {pii_text_sql('text')} as _pii_text"
            f" from {doc_view}")
    from gdal_spark.crs import stages_to_duckdb_sql

    # the stage renderer is engine-agnostic nested selects; Spark parses
    # the same nested form (no DuckDB-only syntax in these stages)
    return stages_to_duckdb_sql(
        base, pii_scan_stages(engine),
        ["doc_id", "n_email", "n_phone", "pii_chars", "has_pii"])


# per-language target sampling rates, permil (the data-mixing recipe);
# languages absent from the map keep the default rate
SAMPLE_RATES_PERMIL = {"en": 800, "de": 500, "fr": 500, "es": 300}
SAMPLE_DEFAULT_PERMIL = 100
# Knuth multiplicative hash on doc_id: deterministic, seed-stable across
# engines and retries — resumable sampling needs the decision to be a
# pure function of the row key, never of rand(). The id is pre-folded
# with % 2^31-1 so the multiply stays under 2^63 for ANY int64 doc_id:
# an unfolded doc_id * 2654435761 overflows int64 past doc_id ≈ 3.5e9,
# where Spark (non-ANSI) wraps to a negative whose % is negative (keep
# always true) while DuckDB raises overflow — both engines must stay
# defined, and agree, at 10^12-row scale. abs() keeps the slot
# non-negative for negative ids (max |fold| = 2^31-2, so the product
# peaks at ~5.7e18 < 2^63-1; abs never sees int64-min).
SAMPLE_HASH = "((abs(doc_id % 2147483647) * 2654435761) % 1000)"


def stratified_sample_sql(doc_view: str, engine: str) -> str:
    """Deterministic stratified sampling by (lang, length bucket): every
    doc carries its stratum, hash slot and keep decision; per-stratum
    totals ride along via a window so the realized rate is checkable in
    one pass. The keep rule is a pure function of doc_id — re-running a
    failed partition reproduces the identical sample (the checkpoint/
    resume invariant), unlike rand()-based Bernoulli sampling."""
    _ = engine  # shared ANSI spelling
    rates = " ".join(
        f"when '{lg}' then {pm}" for lg, pm in SAMPLE_RATES_PERMIL.items())
    return f"""
select doc_id, stratum, keep,
       cast(count(*) over (partition by stratum) as bigint) as n_stratum,
       cast(sum(case when keep then 1 else 0 end)
            over (partition by stratum) as bigint) as n_kept
from (
  select doc_id,
         concat(lang, '/', case when length(text) >= 200 then 'long'
                                else 'short' end) as stratum,
         {SAMPLE_HASH} < (case lang {rates}
                          else {SAMPLE_DEFAULT_PERMIL} end) as keep
  from {doc_view}
) s
"""


def tfidf_topterms_sql(doc_view: str, engine: str, k: int = 5,
                       min_len: int = 3) -> str:
    """TF-IDF-style top-k salient terms per document (the keyword /
    topic-signal stage of a training-data pipeline), with an
    INTEGER-DETERMINISTIC ranking: terms order by tf desc (most
    frequent in the doc), df asc (rarest in the corpus — the idf
    direction without evaluating ln(), whose last-ulp may differ
    between libm and the JVM), then term asc. Output carries the raw
    integer (tf, df) pair, so a user can apply any idf formula
    downstream; the contract row itself stays float-free and
    bit-stable cross-engine.

    Plan shape at 100 TB: tokenize is a narrow map; tf is a
    (doc_id, term)-keyed partial-agg groupBy; df aggregates the
    ALREADY-DISTINCT tf rows (no count-distinct shuffle of raw
    tokens); the tf⋈df term join and the per-doc top-k window are the
    two real exchanges. Term-frequency skew (stopword-like terms)
    stays bounded because min_len filtering happens before the first
    shuffle and AQE splits hot term partitions."""
    split = ("string_split_regex(lower(text), '[^a-z0-9]+')"
             if engine == DUCKDB
             else "split(lower(text), '[^a-z0-9]+')")
    unnest = (f"select doc_id, t.term from {doc_view},"
              f" unnest({split}) as t(term)"
              if engine == DUCKDB
              else f"select doc_id, explode({split}) as term"
              f" from {doc_view}")
    return f"""
with tok as (
  select doc_id, term from ({unnest}) u where length(term) >= {min_len}
),
tf as (
  select doc_id, term, count(*) as tf from tok group by doc_id, term
),
df as (
  -- tf rows are already distinct (doc, term): df aggregates them
  -- directly — no count-distinct shuffle over raw tokens
  select term, count(*) as df from tf group by term
)
select doc_id, rank, term, tf, df from (
  select tf.doc_id, tf.term, tf.tf, df.df,
         cast(row_number() over (partition by tf.doc_id
              order by tf.tf desc, df.df asc, tf.term asc)
              as bigint) as rank
  from tf join df on tf.term = df.term
) s where rank <= {k}
"""


def pack_sequences_sql(doc_view: str, engine: str, ctx: int = 256,
                       bucket: int = 50) -> str:
    """GPT-style sequence packing (concatenate every document's tokens
    plus one EOS separator in doc_id order, then cut the stream into
    fixed ``ctx``-token training sequences): per document, its start
    offset in the global token stream and the first/last sequence ids
    it lands in.

    The global prefix sum is computed as a TWO-LEVEL scan so no window
    ever runs over the full table in one partition: documents carry a
    range-bucket key (doc_id div ``bucket``); the within-bucket cumsum
    window is PARTITIONED BY bucket (parallel across executors), and
    only the bucket-totals table — ``n_docs / bucket`` rows, millions
    of times smaller than the corpus — pays a single-partition scan.
    At 100 TB set bucket so that table stays ~1e5 rows (e.g. 1e6 docs
    per bucket); every other stage is a narrow map or a keyed window.
    All outputs are exact integers (no floats to drift cross-engine);
    DuckDB sums are cast to bigint so pandas doesn't lift HUGEINT to
    float64."""
    nt = f"{arr_len_sql(tokens_sql('text', engine), engine)} + 1"
    idiv = "//" if engine == DUCKDB else "div"
    return f"""
with tok as (
  select doc_id, cast({nt} as bigint) as n_tok,
         cast(doc_id {idiv} {bucket} as bigint) as b
  from {doc_view}
),
within as (
  select doc_id, b, n_tok,
         cast(sum(n_tok) over (partition by b order by doc_id
              rows between unbounded preceding and current row)
              as bigint) as cum_in_b
  from tok
),
btot as (
  select b, cast(sum(n_tok) as bigint) as bt from tok group by b
),
boff as (
  select b, cast(sum(bt) over (order by b
       rows between unbounded preceding and current row) - bt
       as bigint) as off
  from btot
)
select doc_id, n_tokens, start_off,
       cast(start_off {idiv} {ctx} as bigint) as seq_first,
       cast((start_off + n_tokens - 1) {idiv} {ctx} as bigint) as seq_last,
       cast((start_off + n_tokens - 1) {idiv} {ctx}
            - start_off {idiv} {ctx} + 1 as bigint) as n_seqs
from (
  select w.doc_id, w.n_tok as n_tokens,
         o.off + w.cum_in_b - w.n_tok as start_off
  from within w join boff o on w.b = o.b
) s
"""


def bigrams_sql(toks: str, engine: str) -> str:
    """Adjacent-word bigram array ('w1 w2' strings); <2-token docs
    yield an empty array."""
    if engine == SPARK:
        return (f"case when size({toks}) >= 2 then"
                f" transform(sequence(1, size({toks})-1),"
                f" i -> concat(element_at({toks}, i), ' ',"
                f" element_at({toks}, i+1)))"
                f" else array() end")
    return (f"list_transform(range(1, length({toks})),"
            f" i -> {toks}[i] || ' ' || {toks}[i+1])")


def bigram_novelty_sql(doc_view: str, engine: str) -> str:
    """Bigram-context novelty features (the corpus-statistics half of a
    CCNet-style LM quality filter, integer-deterministic): for each
    document, how unusual its adjacent-word bigrams are corpus-wide.
    ``unique_bigrams`` (document frequency 1 — seen nowhere else) high
    means novel/gibberish text; low with high ``max_df`` means
    boilerplate. Raw integer (n, unique, sum_df, max_df) aggregates are
    emitted so any downstream smoothing/log formula can be applied
    without baking a float into the contract.

    Plan shape at 100 TB: bigram arrays are a narrow map (no window —
    the pair construction is a per-row transform/explode); the DISTINCT
    (doc, bigram) and df groupBys are the only shuffles, both carrying
    map-side partial aggregation; the df join back is an equi-join on
    the bigram key with AQE handling hot stopword-pair skew."""
    toks = tokens_sql("text", engine)
    bg = bigrams_sql("_toks", engine)
    if engine == SPARK:
        unnest = (f"select doc_id, explode({bg}) as bigram from"
                  f" (select doc_id, {toks} as _toks from {doc_view})")
    else:
        unnest = (f"select doc_id, unnest({bg}) as bigram from"
                  f" (select doc_id, {toks} as _toks from {doc_view})")
    return f"""
with dbg as (
  select distinct doc_id, bigram from ({unnest}) u
),
df as (
  select bigram, cast(count(*) as bigint) as df from dbg group by bigram
)
select d.doc_id,
       cast(count(*) as bigint) as n_bigrams,
       cast(sum(case when f.df = 1 then 1 else 0 end) as bigint)
           as unique_bigrams,
       cast(sum(f.df) as bigint) as sum_df,
       cast(max(f.df) as bigint) as max_df,
       cast(sum(case when f.df = 1 then 100 else 0 end) {"//" if engine == DUCKDB else "div"} count(*)
           as bigint) as novelty_pct
from dbg d join df f on d.bigram = f.bigram
group by d.doc_id
"""


def substr_dup_spans_sql(doc_view: str, engine: str, L: int = 8) -> str:
    """ExactSubstr deduplication spans (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): a
    token window of length ``L`` whose text occurs at two or more
    (document, position) locations anywhere in the crawl is duplicated;
    per document, overlapping duplicated windows merge into maximal
    spans (consecutive hit positions closer than ``L`` share tokens).

    Spark-first restatement of the paper's suffix-array pass: window
    fingerprints are generated NARROWLY per document (transform +
    posexplode — no self-join), the only corpus-wide shuffles carry the
    8-byte h60 fingerprint key (the count-occurrences groupBy with
    map-side partials, then the hit equi-join — broadcast-able when the
    duplicated-key set is small, AQE decides), and the interval merge is
    a gaps-and-islands window PARTITIONED BY document. Never all-pairs;
    the final (crawl_id, island) aggregate reuses the window's
    crawl_id clustering, so it adds no exchange. The h60 fingerprint is
    the 100 TB scale path (shuffles never carry window text); both
    engines compute the identical hash, so the 2^-60 collision class is
    shared arithmetic, not a compare tolerance.
    """
    crawl = crawl_sql(doc_view, engine)
    toks = tokens_sql("text", engine)
    if engine == SPARK:
        posg = f"""
select crawl_id, posexplode(
  case when size(ts) >= {L}
       then transform(sequence(0, size(ts)-{L}),
                      i -> concat_ws(' ', slice(ts, i+1, {L})))
       else cast(array() as array<string>) end) as (pos, g)
from toks
"""
        posg = f"select crawl_id, pos, {h60_sql('g', engine)} as k from ({posg}) pg"
    else:
        inner = (f"select crawl_id, ts, unnest(range(0, greatest(len(ts)-{L}+1, 0)))"
                 f" as i from toks")
        g = f"array_to_string(list_slice(ts, i+1, i+{L}), ' ')"
        posg = (f"select crawl_id, i as pos, {h60_sql(g, engine)} as k"
                f" from ({inner}) u")
    return f"""
with crawl as ({crawl}),
toks as (select crawl_id, {toks} as ts from crawl),
posg as ({posg}),
dup as (select k from posg group by k having count(*) >= 2),
hits as (select p.crawl_id, p.pos from posg p join dup d using (k)),
brks as (
  select crawl_id, pos,
         case when lag(pos) over (partition by crawl_id order by pos) is null
                or pos - lag(pos) over (partition by crawl_id order by pos)
                   >= {L}
              then 1 else 0 end as brk
  from hits),
isl as (
  select crawl_id, pos,
         sum(brk) over (partition by crawl_id order by pos) as island
  from brks)
select crawl_id,
       cast(min(pos) as bigint) as span_start,
       cast(max(pos) + {L - 1} as bigint) as span_end,
       cast(max(pos) - min(pos) + {L} as bigint) as span_tokens,
       cast(count(*) as bigint) as n_windows
from isl
group by crawl_id, island
"""


def dedup_paragraph_sql(doc_view: str, engine: str, k: int = 8) -> str:
    """Paragraph-granular exact dedup (the dedup ACTION of CCNet, Wenzek
    et al. 2020 — drop every repeated paragraph, keeping the first
    occurrence in (crawl_id, position) order; boilerplate_sql is the
    companion ANALYSIS stage). Paragraph stand-in on the newline-free
    fixture corpus = the same non-overlapping k-word segments
    boilerplate detection uses (segments_sql).

    Output: one row per DROPPED paragraph occurrence —
    (crawl_id, seg_idx, keeper_id, keeper_idx).

    Scale shape: segments explode narrowly per doc; the only
    corpus-wide shuffles carry the 16-byte md5 paragraph key — a
    groupBy picking the keeper (min of an order-preserving composite
    code, map-side partials) and the equi-join back. Never all-pairs.
    The composite keeper code (crawl_id * 2^20 + seg_idx) is shared
    integer arithmetic in both engines; seg_idx < 2^20 holds whenever
    documents are under ~8M tokens (enforce upstream at ingest).
    """
    crawl = crawl_sql(doc_view, engine)
    toks = tokens_sql("text", engine)
    segs = segments_sql("ts", k, engine)
    if engine == SPARK:
        seg_rows = (f"select crawl_id, posexplode({segs}) as (seg_idx, seg)"
                    f" from toks")
    else:
        inner = (f"select crawl_id, ts,"
                 f" unnest(range(0, ((length(ts)-1)//{k})+1)) as i from toks")
        seg = f"array_to_string(list_slice(ts, i*{k}+1, i*{k}+{k}), ' ')"
        seg_rows = f"select crawl_id, i as seg_idx, {seg} as seg from ({inner}) u"
    return f"""
with crawl as ({crawl}),
toks as (select crawl_id, {toks} as ts from crawl),
segs as ({seg_rows}),
keyed as (select crawl_id, seg_idx, md5(seg) as h from segs),
keeper as (
  select h, min(crawl_id * 1048576 + seg_idx) as kcode
  from keyed group by h having count(*) >= 2)
select cast(k2.crawl_id as bigint) as crawl_id,
       cast(k2.seg_idx as bigint) as seg_idx,
       cast(kcode {"//" if engine == DUCKDB else "div"} 1048576 as bigint)
         as keeper_id,
       cast(kcode % 1048576 as bigint) as keeper_idx
from keyed k2 join keeper kk on k2.h = kk.h
where k2.crawl_id * 1048576 + k2.seg_idx <> kcode
"""


def _re_replace_all(expr: str, pat: str, repl: str, engine: str) -> str:
    """Global regexp_replace in both dialects (Spark replaces every
    match by default; DuckDB needs the 'g' option)."""
    if engine == SPARK:
        return f"regexp_replace({expr}, '{pat}', '{repl}')"
    return f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"


MESSY_URL_SQL = """concat(
  case when doc_id % 4 = 1 then 'HTTPS'
       when doc_id % 4 = 2 then 'http' else 'https' end,
  '://',
  case when doc_id % 3 = 0 then 'WWW.' else '' end,
  case when doc_id % 6 < 3 then 'Site' else 'site' end,
  doc_id % 50, '.Example',
  case when doc_id % 5 = 0 and doc_id % 4 <> 2 then ':443'
       when doc_id % 5 = 1 and doc_id % 4 = 2 then ':80'
       else '' end,
  '/a/', doc_id % 20,
  case when doc_id % 2 = 0 then '/' else '' end,
  case when doc_id % 3 = 1
         then concat('?id=', doc_id % 10,
                     '&utm_source=feed&utm_campaign=x')
       when doc_id % 7 = 2 then '?utm_medium=email'
       else '' end,
  case when doc_id % 2 = 1 then '#sec' else '' end)"""


def url_canonicalize_sql(doc_view: str, engine: str) -> str:
    """Crawl URL canonicalization + exact-URL dedup stats (the
    frontier/dedup normalization every crawler runs — cf. the rules
    shared by CommonCrawl tooling and RFC 3986 §6): lowercase scheme
    and host, strip default ports (:80 http / :443 https), strip a
    leading ``www.``, drop the fragment, drop tracking params
    (utm_* / fbclid) while keeping the rest of the query, and strip a
    trailing slash on non-root paths. Output is per-page
    (doc_id, url_canon, group_n) where group_n counts the pages
    sharing the canonical URL — the crawl-frontier dedup signal.

    The messy input URLs are synthesized deterministically from doc_id
    (MESSY_URL_SQL, shared ANSI) so every rule fires on a known subset.
    Pure string/regexp Catalyst expressions — no Python per row; the
    only shuffle is the url_canon count window (at crawl scale: a
    groupBy with map-side partials instead).
    """
    parts = url_parts_cte(doc_view, engine)
    return f"""
with {parts},
c as (
  select doc_id,
         concat(scheme, '://', host, path1,
                case when qs1 = '' then ''
                     else concat('?', qs1) end) as url_canon
  from pp)
select cast(doc_id as bigint) as doc_id, url_canon,
       cast(count(*) over (partition by url_canon) as bigint) as group_n
from c
"""


def url_parts_cte(doc_view: str, engine: str) -> str:
    """The canonicalization CTE chain up to ``pp`` — per page the
    normalized (scheme, host, path1, qs1). Shared by
    url_canonicalize_sql and robots_filter_sql."""
    strip_utm = _re_replace_all("concat(qs, '&')",
                                "(utm_[a-z]+|fbclid)=[^&]*&", "", engine)
    strip_frag = _re_replace_all("pathq0", "#.*$", "", engine)
    return f"""urls as (select doc_id, {MESSY_URL_SQL} as url from {doc_view}),
p as (
  select doc_id, url,
         lower(substr(url, 1, position('://' in url) - 1)) as scheme,
         substr(url, position('://' in url) + 3) as rest
  from urls),
h as (
  select *,
         case when position('/' in rest) = 0 then rest
              else substr(rest, 1, position('/' in rest) - 1) end
           as hostport,
         case when position('/' in rest) = 0 then '/'
              else substr(rest, position('/' in rest)) end as pathq0
  from p),
h2 as (
  select *, lower(
    case when scheme = 'https' and hostport like '%:443'
           then substr(hostport, 1, length(hostport) - 4)
         when scheme = 'http' and hostport like '%:80'
           then substr(hostport, 1, length(hostport) - 3)
         else hostport end) as host0
  from h),
h3 as (
  select *, case when host0 like 'www.%' then substr(host0, 5)
                 else host0 end as host
  from h2),
f as (select *, {strip_frag} as pathq from h3),
q as (
  select *,
         case when position('?' in pathq) = 0 then pathq
              else substr(pathq, 1, position('?' in pathq) - 1) end
           as path0,
         case when position('?' in pathq) = 0 then ''
              else substr(pathq, position('?' in pathq) + 1) end as qs
  from f),
q2 as (select *, trim(trailing '&' from {strip_utm}) as qs1 from q),
pp as (
  select *, case when path0 <> '/' and path0 like '%/'
                   then substr(path0, 1, length(path0) - 1)
                 else path0 end as path1
  from q2)"""


def robots_filter_sql(doc_view: str, engine: str) -> str:
    """Robots-exclusion filtering (RFC 9309 §2.2.2 longest-match rule —
    the crawl-politeness gate every fetcher applies): each page's
    canonical path is matched against its host's Allow/Disallow rules;
    the LONGEST matching prefix wins, Allow beating Disallow on equal
    length; no match ⇒ allowed. Output per page:
    (doc_id, url_canon, allowed, matched_prefix).

    The rule table is synthesized deterministically per host (shared
    dialect-split range scan): every host disallows '/private/' (never
    matches — exercises the default-allow), hosts h%3==0 disallow
    '/a/' (blanket block), hosts h%6==0 additionally Allow '/a/1'
    (the longer match un-blocks /a/1 and /a/10..19 — the RFC's
    motivating example shape).

    Scale shape: rules are per-host metadata — a tiny broadcast join on
    the host equi-key; the prefix test and longest-match rank run
    per page. No shuffle ever carries page text.
    """
    parts = url_parts_cte(doc_view, engine)
    if engine == SPARK:
        hosts = "select id as hh from range(0, 50)"
    else:
        hosts = "select range as hh from range(0, 50)"
    return f"""
with {parts},
c as (
  select doc_id, host, path1,
         concat(scheme, '://', host, path1,
                case when qs1 = '' then ''
                     else concat('?', qs1) end) as url_canon
  from pp),
hosts as ({hosts}),
rules as (
  select concat('site', hh, '.example') as rhost,
         '/private/' as prefix, 0 as allow from hosts
  union all
  select concat('site', hh, '.example'), '/a/', 0 from hosts
  where hh % 3 = 0
  union all
  select concat('site', hh, '.example'), '/a/1', 1 from hosts
  where hh % 6 = 0),
m as (
  select c.doc_id, r.prefix, r.allow,
         row_number() over (partition by c.doc_id
                            order by length(r.prefix) desc,
                                     r.allow desc) as rn
  from c join rules r on c.host = r.rhost
  where substr(c.path1, 1, length(r.prefix)) = r.prefix)
select cast(c.doc_id as bigint) as doc_id, c.url_canon,
       cast(coalesce(m.allow, 1) as bigint) as allowed,
       coalesce(m.prefix, '') as matched_prefix
from c left join (select doc_id, prefix, allow from m where rn = 1) m
  on c.doc_id = m.doc_id
"""


def sitemap_coverage_sql(doc_view: str, engine: str) -> str:
    """Sitemap ingest + crawl-frontier coverage (the companion to the
    robots filter: sitemaps.org protocol 0.9, the discovery side of
    RFC 9309's politeness side — every production crawler reconciles
    its frontier against the hosts' published sitemaps).

    Per host a real sitemap XML document is synthesized (urlset with
    <url><loc/><lastmod/><priority/> entries, 15–24 per host), then
    parsed BACK from the XML text — split on '</url>' + regexp field
    extraction, the same narrow per-file string work as the WARC/KML
    readers. Entries with (host + k) % 7 == 3 are deterministically
    withheld from the sitemap, so some crawled paths are off-map and
    the reconciliation exercises every lane. The parse output is
    reconciled against the crawl's canonical URL set
    (distinct (host, path) from url_parts_cte). Output one row per
    host: entry count, how many sitemap URLs the crawl covered, the
    gap (published but never crawled), the off-map count (crawled but
    unpublished), plus max lastmod and the priority mass as integer
    milli-units (float-free parse verification).

    Scale shape: a sitemap is per-host metadata — the XML synthesis is
    a narrow projection over the host list, the parse is a narrow
    split/regexp over each file, and the reconciliation joins carry
    (host, path) pairs only; page text never shuffles. At crawl scale
    the crawl side pre-aggregates to distinct (host, path) with
    map-side partials before either join.
    """
    parts = url_parts_cte(doc_view, engine)
    if engine == SPARK:
        hosts = "select id as hh from range(0, 50)"
        seq = ("filter(sequence(0, 14 + hh % 10),"
               " k -> (hh + k) % 7 <> 3)")
        xform = "transform"
        ajoin = "array_join"
        split_u = "split(doc, '</url>')"
        expl = explode_sql("frags", "frag", SPARK)
        scast = "string"
    else:
        hosts = "select range as hh from range(0, 50)"
        seq = ("list_filter(range(0, 15 + hh % 10),"
               " k -> (hh + k) % 7 <> 3)")
        xform = "list_transform"
        ajoin = "array_to_string"
        split_u = "string_split(doc, '</url>')"
        expl = explode_sql("frags", "frag", DUCKDB)
        scast = "varchar"
    entry = (
        "concat('<url><loc>https://site', hh, '.example/a/', k,"
        " '</loc><lastmod>2026-',"
        f" lpad(cast(1 + (hh + k) % 12 as {scast}), 2, '0'), '-',"
        f" lpad(cast(1 + (hh * 7 + k * 3) % 28 as {scast}), 2, '0'),"
        " '</lastmod><priority>0.', 1 + (k * (hh + 1)) % 9,"
        " '</priority></url>')")
    return f"""
with {parts},
crawl as (select distinct host, path1 from pp),
hosts as ({hosts}),
xml as (
  select hh, concat(
    '<?xml version="1.0" encoding="UTF-8"?>',
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">',
    {ajoin}({xform}({seq}, k -> {entry}), ''),
    '</urlset>') as doc
  from hosts),
rawent as (
  select hh, {expl} from (select hh, {split_u} as frags from xml) u),
parsed as (
  select hh,
         regexp_extract(frag, '<loc>([^<]*)</loc>', 1) as loc,
         regexp_extract(frag, '<lastmod>([^<]*)</lastmod>', 1) as lastmod,
         regexp_extract(frag, '<priority>0[.]([0-9])</priority>', 1) as pri
  from rawent where frag like '%<loc>%'),
smap as (
  select hh, loc, lastmod, cast(pri as bigint) * 100 as pri_milli,
         substr(loc, 9,
                position('/' in substr(loc, 9)) - 1) as shost,
         substr(loc, 8 + position('/' in substr(loc, 9))) as spath
  from parsed),
offc as (
  select c.host, cast(count(*) as bigint) as n_off
  from crawl c left join smap s
    on s.shost = c.host and s.spath = c.path1
  where s.spath is null group by c.host),
j as (
  select s.shost, s.spath, s.lastmod, s.pri_milli, c.path1
  from smap s left join crawl c
    on s.shost = c.host and s.spath = c.path1)
select j.shost as host,
       cast(count(*) as bigint) as n_sitemap,
       cast(sum(case when j.path1 is not null then 1 else 0 end)
            as bigint) as n_crawled,
       cast(sum(case when j.path1 is null then 1 else 0 end)
            as bigint) as n_gap,
       cast(coalesce(max(o.n_off), 0) as bigint) as n_offmap,
       max(j.lastmod) as max_lastmod,
       cast(sum(j.pri_milli) as bigint) as pri_milli_sum
from j left join offc o on j.shost = o.host
group by j.shost
"""


# ---------------------------------------------------------------------------
# HTML -> text extraction (the north-rule per-row invariant)
# ---------------------------------------------------------------------------


def _html_escape(expr: str) -> str:
    """HTML-escape a text fragment (portable: plain replace chain).
    '&' first so later entities are not double-escaped."""
    return ("replace(replace(replace(" + expr +
            ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;')")


def _html_unescape(expr: str) -> str:
    """Inverse of _html_escape; '&amp;' LAST so an escaped literal
    '&lt;' in the source text ('&amp;lt;' in HTML) survives one level:
    the '&lt;' pass cannot match it (no '&' directly before 'lt;') and
    the final '&amp;' pass restores exactly '&lt;'."""
    return ("replace(replace(replace(" + expr +
            ", '&lt;', '<'), '&gt;', '>'), '&amp;', '&')")


def rich_html_sql(text: str = "text", doc_id: str = "doc_id") -> str:
    """Deterministic messy-HTML synthesis (shared ANSI): the page text
    split into segments and wrapped in realistic markup — head with
    title/meta/style and a script whose body contains raw ``<``/``&``
    (so stripping ORDER is load-bearing), an HTML comment containing a
    fake ``<p>`` tag, inline ``<a>``/``<b>`` wrappers with an entity
    inside an attribute value, and a body script. Each text segment is
    HTML-escaped independently (tags sit at segment boundaries, so
    entities never straddle a boundary and escape/unescape is exactly
    invertible per segment)."""
    e = _html_escape
    s1 = f"substr({text}, 1, 40)"
    s2a, s2b, s2c = (f"substr({text}, 41, 20)", f"substr({text}, 61, 30)",
                     f"substr({text}, 91, 30)")
    s3 = f"substr({text}, 121)"
    return f"""concat(
  '<html><head><title>Doc ', {doc_id}, '</title>',
  '<meta charset="utf-8"><meta name="robots" content="index">',
  '<style>body{{margin:0;font-size:', 10 + {doc_id} % 8, 'px}}</style>',
  '<script>var n=', {doc_id}, ';if(n<99&&n>0){{n=n+1}}</script>',
  '</head><body>',
  '<!-- warc-record ', {doc_id}, ' <p>not text</p> -->',
  '<h1 class="t">', {e(s1)}, '</h1>',
  '<p id="m">', {e(s2a)}, '<a href="/r?a=1&amp;b=2">', {e(s2b)},
  '</a><b>', {e(s2c)}, '</b></p>',
  '<script type="text/javascript">document.write("<i>ad</i>")</script>',
  '<p>', {e(s3)}, '</p>',
  '</body></html>')"""


def html_extract_stages(engine: str,
                        html: str = "html_str") -> list[tuple[str, str]]:
    """Staged HTML->text extraction (shared dual-dialect SQL).

    Stage order is semantic, not cosmetic: head/script bodies may
    contain raw ``<`` and fake tags (scripts routinely do), so they are
    removed as *regions* before the generic tag stripper runs; comments
    likewise. Block-level closers become newlines; inline tags vanish
    without inserting whitespace; entities decode last ('&amp;' after
    '&lt;'/'&gt;' — see _html_unescape)."""
    r = _re_replace_all
    return [
        ("_e0", r(html, '(?s)<head>.*?</head>', '', engine)),
        ("_e1", r("_e0", '(?s)<script[^>]*>.*?</script>', '', engine)),
        ("_e2", r("_e1", '(?s)<!--.*?-->', '', engine)),
        ("_e3", "replace(replace(_e2, '</h1>', chr(10)),"
                " '</p>', chr(10))"),
        ("_e4", r("_e3", '<[^>]*>', '', engine)),
        ("extracted", _html_unescape("_e4")),
    ]


def html_extract_sql(doc_view: str, engine: str) -> str:
    """HTML -> text extraction over the pages html column, verified
    byte-identical per url against the known source text (the
    north-rule invariant: 'byte-identical extracted text per url').

    Output per page: (doc_id, html_len, text_len, text_md5,
    byte_identical). ``byte_identical`` compares the extracted text
    with the expected reconstruction (segments joined by the newlines
    the block tags contribute) — true for every row by construction;
    the driver's value-hash then pins the md5 of every extracted text
    cross-engine.

    Scale shape: a pure narrow projection — six regexp/replace passes
    per page inside whole-stage codegen, zero joins, zero shuffles,
    zero Python. At 100 TB this is scan-bound, the ideal plan.

    On the Spark side the HTML goes through a real utf-8
    encode->binary->decode round trip (the input contract's
    html:binary column); DuckDB extracts from the same string directly
    — the extraction arithmetic is the shared part.
    """
    html_expr = rich_html_sql("text", "doc_id")
    if engine == SPARK:
        html_col = f"decode(encode({html_expr}, 'utf-8'), 'utf-8')"
    else:
        html_col = html_expr
    stages = html_extract_stages(engine)
    stage_sql = ",\n".join(f"{expr} as {name}" for name, expr in stages)
    # expected: seg(1,40) + '\n' + seg(41,80) + '\n' + seg(121..) + '\n'
    # (s2a+s2b+s2c above = substr(41,80); </h1> and each </p> emit \n)
    expected = ("concat(substr(text, 1, 40), chr(10),"
                " substr(text, 41, 80), chr(10),"
                " substr(text, 121), chr(10))")
    return f"""
with rh as (
  select doc_id, text, {html_col} as html_str from {doc_view}),
ex as (
  select doc_id, text, html_str,
{stage_sql}
  from rh)
select cast(doc_id as bigint) as doc_id,
       cast(length(html_str) as bigint) as html_len,
       cast(length(extracted) as bigint) as text_len,
       md5(extracted) as text_md5,
       (extracted = {expected}) as byte_identical
from ex
"""


# ---------------------------------------------------------------------------
# WARC container ingest (Common-Crawl's on-disk format)
# ---------------------------------------------------------------------------

WARC_FILES = 37  # files per corpus in the synthetic layout (doc_id % 37)


def warc_records_cte(doc_view: str) -> str:
    """The WARC record synthesis CTE chain up to ``recs0`` (per page:
    file_id + the full serialized record string) — shared ANSI, used
    by warc_ingest_sql (record parsing) and cdx_index_sql (byte-offset
    index)."""
    crlf = "concat(chr(13), chr(10))"
    crlf2 = "concat(chr(13), chr(10), chr(13), chr(10))"
    return f"""pages as (
  select doc_id,
         concat('https://site', doc_id % 100, '.example/p/', doc_id)
           as url,
         1735689600 + doc_id * 7 as epoch,
         concat('<html><body><p>', replace(text, chr(13), ''),
                '</p></body></html>') as payload
  from {doc_view}),
http as (
  select doc_id, url, epoch, payload,
         concat('HTTP/1.1 200 OK', {crlf},
                'Content-Type: text/html; charset=utf-8', {crlf},
                {crlf}, payload) as http_block
  from pages),
recs0 as (
  select doc_id, url, epoch, payload, doc_id % {WARC_FILES} as file_id,
         concat('WARC/1.0', {crlf},
                'WARC-Type: response', {crlf},
                'WARC-Target-URI: ', url, {crlf},
                'WARC-Date-Epoch: ', epoch, {crlf},
                'Content-Type: application/http;msgtype=response', {crlf},
                'Content-Length: ', length(http_block), {crlf},
                {crlf}, http_block, {crlf2}) as rec
  from http)"""


def cdx_index_sql(doc_view: str, engine: str) -> str:
    """CDX(J)-style capture index over the WARC layout — the lookup
    structure Common Crawl publishes next to every crawl (SURT key,
    capture time, content digest, and the (file, offset, length)
    triple (rec_offset) that lets a reader range-request one record out of a ~1 GB
    WARC blob without scanning it).

    SURT (Sort-friendly URI Reordering Transform): host labels
    reversed and comma-joined, then ')' + path — 'site7.example/p/7'
    → 'example,site7)/p/7' — so captures of one registrable domain
    sort adjacently.

    The offset is real, not cosmetic: a window cumsum of serialized
    record lengths within each file in write order — exactly the
    offsets the records occupy in warc_ingest_sql's blobs (pinned by
    test against substr() of the actual blob). Scale shape: one
    exchange, the file_id-partitioned window (tiny rows: id + length);
    at crawl scale this is the indexer that runs once per WARC file
    write. Output: (surt_key, warc_epoch, digest, file_id, rec_offset,
    rlen)."""
    host = "substr(url, 9, position('/' in substr(url, 9)) - 1)"
    path = "substr(url, 8 + position('/' in substr(url, 9)))"
    if engine == SPARK:
        rev = f"array_join(reverse(split({host}, '[.]')), ',')"
    else:
        rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    return f"""
with {warc_records_cte(doc_view)},
idx as (
  select doc_id, url, epoch, payload, file_id,
         length(rec) as rlen,
         coalesce(sum(length(rec)) over (
             partition by file_id order by doc_id
             rows between unbounded preceding and 1 preceding),
           0) as rec_offset
  from recs0)
select concat({rev}, ')', {path}) as surt_key,
       cast(epoch as bigint) as warc_epoch,
       md5(payload) as digest,
       cast(file_id as bigint) as file_id,
       cast(rec_offset as bigint) as rec_offset,
       cast(rlen as bigint) as rlen
from idx
"""


def warc_ingest_sql(doc_view: str, engine: str) -> str:
    """WARC (ISO 28500) record ingest: the pages corpus serialized
    into Common-Crawl-style WARC files (one binary blob per file,
    records concatenated in doc order), then parsed back into typed
    per-record rows — the first stage of every real CC pipeline.

    Synthesis (shared ANSI, deterministic): each page becomes a
    ``WARC/1.0`` response record — WARC headers, blank line, an
    HTTP/1.1 response block whose ``Content-Length`` covers it, and the
    ``\\r\\n\\r\\n`` record terminator; records group into
    ``doc_id % WARC_FILES`` files via an ORDERED string aggregation.

    Parsing honors real WARC reader semantics: the HTTP block is taken
    by the DECLARED Content-Length (never by searching the payload —
    payloads may contain blank lines), and ``length_ok`` verifies the
    declared length lands exactly on the record terminator. Fields come
    out with regexp_extract; the payload md5 pins byte fidelity.

    Scale shape: real CC crawls are ~64k x 1 GB WARC files; files are
    the parallel unit (one row / one input split each), record split +
    header parse are NARROW per-file string ops (no shuffle in the
    parse path — the one exchange here is the synthesis groupBy, which
    in production is the upstream fetcher's write). WARC-Date is
    carried as epoch seconds (cosmetic divergence: real WARC uses
    ISO-8601; the two engines' datetime formatters disagree on
    spelling, the epoch integer is bit-portable).
    """
    crlf = "concat(chr(13), chr(10))"
    crlf2 = "concat(chr(13), chr(10), chr(13), chr(10))"
    if engine == SPARK:
        agg = ("array_join(transform(array_sort(collect_list("
               "struct(doc_id, rec))), x -> x.rec), '')")
        split_recs = "split(blob, concat('WARC/1[.]0', chr(13), chr(10)))"
        explode = "explode(recs)"
    else:
        agg = "string_agg(rec, '' order by doc_id)"
        split_recs = ("regexp_split_to_array(blob,"
                      " concat('WARC/1[.]0', chr(13), chr(10)))")
        explode = "unnest(recs)"
    return f"""
with {warc_records_cte(doc_view)},
files as (
  select file_id, {agg} as blob from recs0 group by file_id),
exploded as (
  select file_id, {explode} as rec
  from (select file_id, {split_recs} as recs from files) t),
parsed0 as (
  select file_id, rec,
         position({crlf2} in rec) as hdr_end,
         cast(regexp_extract(rec,
              'Content-Length: ([0-9]+)', 1) as bigint) as content_length
  from exploded where rec <> ''),
parsed as (
  select file_id, content_length,
         substr(rec, 1, hdr_end - 1) as warc_hdr,
         substr(rec, hdr_end + 4, content_length) as http_block,
         substr(rec, hdr_end + 4 + content_length, 4) = {crlf2}
           as length_ok
  from parsed0)
select file_id,
       regexp_extract(warc_hdr, 'WARC-Target-URI: ([^\r]+)', 1) as url,
       regexp_extract(warc_hdr, 'WARC-Type: ([^\r]+)', 1) as warc_type,
       cast(regexp_extract(warc_hdr,
            'WARC-Date-Epoch: ([0-9]+)', 1) as bigint) as warc_epoch,
       cast(regexp_extract(http_block,
            'HTTP/1[.]1 ([0-9]+)', 1) as bigint) as status,
       regexp_extract(http_block,
            'Content-Type: ([^;\r]+)', 1) as mime,
       content_length,
       cast(length(substr(http_block,
            position({crlf2} in http_block) + 4)) as bigint)
         as payload_len,
       md5(substr(http_block,
            position({crlf2} in http_block) + 4)) as payload_md5,
       length_ok
from parsed
"""


# ---------------------------------------------------------------------------
# Temperature-based source mixture sampling (training-data mixing)
# ---------------------------------------------------------------------------

MIXTURE_BUDGET = 200  # total docs the mixture targets


def mixture_sample_sql(doc_view: str, engine: str,
                       budget: int = MIXTURE_BUDGET) -> str:
    """Temperature-weighted mixture sampling across sources — the data-
    mixing stage of LLM pretraining (cf. the alpha-scaled multinomial
    weights of multilingual/CC-mix recipes): source i gets a document
    budget proportional to mass_i^alpha with alpha = 0.5, which
    up-weights small sources relative to proportional sampling.

    Integer-deterministic throughout: the temperature weight is
    cast(round(sqrt(mass)*1000) as bigint) — sqrt is IEEE
    correctly-rounded, so identical in both engines, and the scaled
    integer makes the cross-source SUM exact and order-independent
    (the embed_kmeans trick). Per-source doc ranking is the same
    overflow-masked multiplicative hash the stratified sampler uses —
    a pure function of doc_id, so a re-run partition reproduces the
    identical sample (resume invariant). Shape: one tiny per-source
    aggregate (20 rows, broadcast back) + one window rank keyed by
    source; at crawl scale the window becomes a per-source
    approx-threshold select, and the docstring's keyed-by-source skew
    caveat applies (sources are few and fat — salt the rank by hash
    bucket if one source dominates)."""
    _ = engine  # shared ANSI spelling
    return f"""
with w as (
  select source,
         cast(round(sqrt(sum(n_chars)) * 1000) as bigint) as wgt
  from {doc_view} group by source),
tgt as (
  select source, wgt,
         cast(floor(({budget} * wgt) / (sum(wgt) over ()))
              as bigint) as target_n
  from w),
r as (
  select d.doc_id, d.source,
         row_number() over (
           partition by d.source
           order by {SAMPLE_HASH}, d.doc_id) as samp_rank
  from {doc_view} d)
select r.doc_id, r.source, cast(r.samp_rank as bigint) as samp_rank,
       g.target_n, g.wgt,
       r.samp_rank <= g.target_n as keep
from r join tgt g on g.source = r.source
"""


def _arr_len_sum(toks: str, engine: str) -> str:
    """Sum of token lengths (bigint) in each dialect."""
    if engine == SPARK:
        return (f"aggregate({toks}, cast(0 as bigint),"
                f" (acc, w) -> acc + length(w))")
    return f"cast(list_sum(list_transform({toks}, w -> length(w))) as bigint)"


def _arr_count_alpha(toks: str, engine: str) -> str:
    """Count of tokens containing at least one ASCII letter."""
    if engine == SPARK:
        return f"size(filter({toks}, w -> w rlike '[a-zA-Z]'))"
    return (f"length(list_filter({toks},"
            f" w -> regexp_matches(w, '[a-zA-Z]')))")


def _arr_contains(toks: str, word: str, engine: str) -> str:
    fn = "array_contains" if engine == SPARK else "list_contains"
    return f"{fn}({toks}, '{word}')"


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# The synthetic corpus has a systems-vocabulary, so the contract query
# instantiates the stop-word rule with the corpus' own function-word
# analogues (the rule is corpus-parameterized in real pipelines too —
# Gopher's English list is meaningless for code or non-English shards).
FIXTURE_STOPWORDS = ("join", "hash", "row", "batch", "scan", "filter",
                     "order", "data")


def gopher_rules_sql(doc_view: str, engine: str,
                     stopwords: tuple = GOPHER_STOPWORDS) -> str:
    """The Gopher quality-rule battery (Rae et al. 2021, Appendix A —
    the rule set MassiveWeb/RefinedWeb-style pipelines start from):
    per doc the signals and the keep verdict —

      50 <= n_words <= 100000, 3 <= mean word length <= 10,
      symbol-to-word ratio ('#' + '...') < 0.1,
      fraction of words containing a letter > 0.80,
      >= 2 hits among the 8 Gopher stop words.

    All signals are array-expression arithmetic over the whitespace
    token list — one narrow pass, no shuffle, no Python; the per-rule
    booleans ride along so downstream can audit WHY a page dropped
    (the operational difference between a filter and a filter you can
    debug at 100 TB)."""
    toks = tokens_sql("text", engine)
    nw = "cast(n_words as double)"
    stop_hits = " + ".join(
        f"(case when {_arr_contains('_toks', w, engine)} then 1 else 0 end)"
        for w in stopwords)
    return f"""
with t as (
  select doc_id, text, {toks} as _toks from {doc_view}),
sig as (
  select doc_id,
         cast({('size' if engine == SPARK else 'length')}(_toks)
              as bigint) as n_words,
         {_arr_len_sum('_toks', engine)} as char_sum,
         cast({_arr_count_alpha('_toks', engine)} as bigint)
           as n_alpha_words,
         cast(length(text) - length(replace(text, '#', '')) +
              (length(text) - length(replace(text, '...', ''))) / 3
              as bigint) as n_symbols,
         cast({stop_hits} as bigint) as stop_hits
  from t)
select doc_id, n_words,
       round(char_sum / {nw}, 6) as mean_word_len,
       round(n_alpha_words / {nw}, 6) as alpha_word_frac,
       round(n_symbols / {nw}, 6) as symbol_ratio,
       stop_hits,
       (n_words between 50 and 100000
        and char_sum / {nw} between 3.0 and 10.0
        and n_symbols / {nw} < 0.1
        and n_alpha_words / {nw} > 0.80
        and stop_hits >= 2) as keep
from sig
"""


def ccnet_ppl_bucket_sql(doc_view: str, engine: str) -> str:
    """CCNet-style quality bucketing (Wenzek et al. 2020): score each
    doc by a language-model proxy — here the corpus-unigram mean
    negative log-probability (the LM is a seam: swap in real LM scores
    and the bucketing below is unchanged) — then split the corpus into
    head/middle/tail TERCILES, the partition CCNet publishes and
    pretraining recipes sample from.

    Determinism: per-word -ln p values are computed once per DISTINCT
    word (ln over identical expression text — engine-agreeing), summed
    per doc in integer NANO-NAT units (cast(round(nll*1e9) as bigint))
    so the per-doc aggregation is exact and order-independent; the
    tercile thresholds come from counting docs at-or-below each score
    (a self-agg on the tiny per-doc score table), not from engine
    quantile functions whose interpolation rules differ.

    Shape: word explode → (word) count aggregate (one shuffle,
    map-side partials) → join back (word-keyed) → per-doc aggregate
    (doc-keyed) → rank window over the per-doc scores. At 100 TB the
    vocabulary table is the small side (broadcast); per-doc rows are
    tiny. Output: (doc_id, n_words, nll_nano, bucket)."""
    toks = tokens_sql("text", engine)
    idiv = "nll_sum div n_words" if engine == SPARK \
        else "nll_sum // n_words"
    return f"""
with t as (
  select doc_id, {toks} as _toks from {doc_view}),
w as (
  select doc_id, {explode_sql('_toks', 'word', engine)} from t),
tot as (
  select count(*) as n_total from w),
vocab as (
  select word, count(*) as wc from w group by word),
wl as (
  select word,
         cast(round(ln(cast((select n_total from tot) as double) / wc)
                    * 1000000000) as bigint) as nll_nano_w
  from vocab),
per_doc as (
  select w.doc_id, cast(count(*) as bigint) as n_words,
         cast(sum(wl.nll_nano_w) as bigint) as nll_sum
  from w join wl on wl.word = w.word
  group by w.doc_id),
scored as (
  select doc_id, n_words, {idiv} as nll_nano
  from per_doc),
ranked as (
  select doc_id, n_words, nll_nano,
         row_number() over (order by nll_nano, doc_id) as rnk,
         count(*) over () as n_docs
  from scored)
select doc_id, n_words, nll_nano,
       case when rnk * 3 <= n_docs then 'head'
            when rnk * 3 <= 2 * n_docs then 'middle'
            else 'tail' end as bucket
from ranked
"""


def dsir_importance_sql(doc_view: str, engine: str,
                        n_buckets: int = 256) -> str:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169):
    score every document by the hashed-unigram importance log-ratio
    between a TARGET distribution (here the lang='en' slice — the
    stand-in for "looks like the eval domain") and the RAW crawl
    distribution, then keep the top quarter by weight.

    Mechanics, kept exact and engine-agreeing:

    - features: words hash (h60) into ``n_buckets`` buckets; both
      corpora reduce to bucket-count tables (tiny: ``n_buckets`` rows).
    - per-bucket log-ratio ln(p_b/q_b) with Laplace smoothing
      ((c+1)/(tot+B) on both sides), materialized once per bucket in
      integer NANO-NAT units — identical expression text in both
      engines, so ln agrees bitwise; per-doc weights are then exact
      integer sums, order-independent and resume-stable.
    - selection: the paper resamples with Gumbel noise; the pipeline
      variant here is the deterministic top-k (k = n/4) — documented
      divergence, same selection pressure, reproducible across runs.
      The threshold comes from a MILLI-NAT histogram (bounded bins,
      the raster_percentiles inverted-CDF pattern) + a rank window
      PARTITIONED BY the single threshold bin — no global sort of the
      corpus, no engine quantile interpolation.

    Shape at 100 TB: word explode → two bucket-count aggregates (one
    shuffle each, map-side partials, output = n_buckets rows each —
    broadcast); per-doc bucket counts groupBy (doc-keyed shuffle);
    bucket log-ratio join is broadcast; the histogram aggregate
    carries one row per milli-nat bin; only the threshold BIN pays a
    window, partitioned on the bin key. Output:
    (doc_id, n_words, w_nano, kept).
    """
    toks = tokens_sql("text", engine)
    h = h60_sql("word", engine)
    b = n_buckets
    idiv = "div" if engine == SPARK else "//"
    return f"""
with t as (
  select doc_id, lang, {toks} as _toks from {doc_view}),
w as (
  select doc_id, lang, {explode_sql('_toks', 'word', engine)} from t),
wb as (
  select doc_id, lang, {h} % {b} as bkt from w),
raw_tot as (select cast(count(*) as bigint) as n from wb),
tgt_tot as (select cast(count(*) as bigint) as n from wb
            where lang = 'en'),
raw_b as (
  select bkt, cast(count(*) as bigint) as c from wb group by bkt),
tgt_b as (
  select bkt, cast(count(*) as bigint) as c from wb
  where lang = 'en' group by bkt),
lr as (
  select r.bkt,
         cast(round(ln(
           (cast(coalesce(tg.c, 0) + 1 as double)
              / cast((select n from tgt_tot) + {b} as double))
           / (cast(r.c + 1 as double)
              / cast((select n from raw_tot) + {b} as double))
         ) * 1000000000) as bigint) as lr_nano
  from raw_b r left join tgt_b tg on tg.bkt = r.bkt),
doc_b as (
  select doc_id, bkt, cast(count(*) as bigint) as c
  from wb group by doc_id, bkt),
scored as (
  select d.doc_id,
         cast(sum(d.c) as bigint) as n_words,
         cast(sum(d.c * l.lr_nano) as bigint) as w_nano
  from doc_b d join lr l on l.bkt = d.bkt
  group by d.doc_id),
binned as (
  select doc_id, n_words, w_nano,
         w_nano {idiv} 1000000 as w_milli from scored),
hist as (
  select w_milli, cast(count(*) as bigint) as c
  from binned group by w_milli),
cum as (
  select w_milli, c,
         cast(coalesce(sum(c) over (order by w_milli desc
                rows between unbounded preceding and 1 preceding), 0)
              as bigint) as n_above
  from hist),
kparam as (
  select cast(sum(c) as bigint) {idiv} 4 as k from hist),
thr as (
  select w_milli, n_above from cum
  where n_above < (select k from kparam)
    and n_above + c >= (select k from kparam)
  order by w_milli asc limit 1),
ranked as (
  select doc_id, n_words, w_nano, w_milli,
         row_number() over (partition by w_milli
                            order by w_nano desc, doc_id) as rib
  from binned
  where w_milli = (select w_milli from thr))
select doc_id, n_words, w_nano,
       cast(1 as bigint) as kept
from binned where w_milli > (select w_milli from thr)
union all
select doc_id, n_words, w_nano,
       cast(case when rib <= (select k from kparam)
                              - (select n_above from thr)
            then 1 else 0 end as bigint) as kept
from ranked
union all
select doc_id, n_words, w_nano, cast(0 as bigint) as kept
from binned where w_milli < (select w_milli from thr)
"""


# ---------------------------------------------------------------------------
# Link graph + host PageRank
# ---------------------------------------------------------------------------


def link_graph_pagerank_sql(doc_view: str, engine: str,
                            n_hosts: int = 50, rounds: int = 3,
                            damp_milli: int = 850) -> str:
    """Outlink extraction → host-level link graph → PageRank (Page et
    al. 1999 / Brin & Page WWW'98) — the crawl-frontier prioritization
    and quality signal every web-corpus pipeline computes (Common Crawl
    publishes exactly this as its host-level ranks; CCNet/RefinedWeb
    use link-based host quality as a filter input).

    Stages, each with its 100 TB shape stated:

    1. **Anchor synthesis + href extraction** — each page gets a
       deterministic HTML fragment with 2–4 ``<a href>`` anchors:
       absolute URLs with messy case / ``WWW.`` prefixes (so host
       canonicalization provably merges variants) plus one
       RELATIVE href resolved against the page's own host (RFC 3986
       §5.1 base resolution, the case real link extractors hit most).
       ``regexp_extract_all`` over the page html is a pure narrow
       projection — scan-bound, zero shuffle, no Python.
    2. **Host edge aggregation** — (src_host, dst_host) groupBy with
       map-side partials; self-loops dropped (standard PageRank
       convention). The edge table is host×host — at web scale ~10⁷
       hosts, *independent of page count*: the one full-corpus shuffle
       carries host-pair rows only, never page text.
    3. **Power iteration, unrolled ``rounds`` times** — EXACT integer
       arithmetic: ranks live in micro-units summing to ~10¹²;
       per-edge flow is ``(rank*weight) div out_weight`` (truncating
       integer division — deterministic and identical in both engines,
       the embed_kmeans unrolled-iteration pattern), damped as
       ``base + damp_milli*inflow div 1000``. Dangling hosts (none in
       the synthesized graph, guarded anyway) contribute only the
       teleport base. Each round is one equi-join rank⋈edges + one
       dst-keyed groupBy over the HOST table — tiny vs the corpus, and
       exactly the iteration Spark would run at 10⁷ hosts without any
       driver collect.

    Output per host: (host, out_deg, out_w, in_w, r1, r2, r3) — all
    bigints, bit-stable cross-engine. Divergence from float PageRank:
    truncating integer division loses ≤1 micro-unit per edge per round
    (bounded drift ~edges·rounds micro-units ≈ 1e-6 of total mass);
    documented here, irrelevant to ranking order on this graph.
    """
    idiv = " div " if engine == SPARK else " // "
    # deterministic messy absolute targets + one relative href per page
    html = f"""concat(
  '<p>intro</p><a href="',
  case when doc_id % 2 = 0 then 'https://' else 'HTTP://' end,
  case when doc_id % 3 = 0 then 'WWW.' else '' end,
  case when doc_id % 4 < 2 then 'Site' else 'site' end,
  (doc_id * 7 + 13) % {n_hosts}, '.Example/a/', (doc_id + 1) % 20,
  '">one</a> text <a href="/local/', doc_id % 9,
  '">rel</a>',
  case when doc_id % 3 <> 1 then concat(
    '<a href="https://site', (doc_id * 11 + 29) % {n_hosts},
    '.example/b/', (doc_id + 2) % 20, '">two</a>') else '' end,
  case when doc_id % 5 = 0 then concat(
    '<a href="HTTPS://Site', (doc_id * 3 + 41) % {n_hosts},
    '.EXAMPLE:443/c/', doc_id % 20, '">three</a>') else '' end)"""
    if engine == SPARK:
        hrefs = "explode(regexp_extract_all(html, 'href=\"([^\"]*)\"', 1))"
        href_rows = (f"select src_host, {hrefs} as href from pages")
    else:
        href_rows = ("select src_host, unnest(regexp_extract_all("
                     "html, 'href=\"([^\"]*)\"', 1)) as href from pages")
    # canonical dst host: strip scheme, take up-to-first-/, lowercase,
    # strip :443 / :80 and leading www.; relative hrefs resolve to the
    # page's own host (RFC 3986 §5.1)
    rounds_ctes = []
    prev = "r0"
    for i in range(1, rounds + 1):
        rounds_ctes.append(f"""r{i} as (
  select h.host,
         (select base from params)
           + ({damp_milli} * coalesce(f.inflow, 0)){idiv}1000 as r
  from hosts h left join (
    select e.dst as host,
           sum((p.r * e.w){idiv}o.ow) as inflow
    from edges e
    join {prev} p on p.host = e.src
    join outw o on o.src = e.src
    group by e.dst) f on f.host = h.host)""")
        prev = f"r{i}"
    rounds_sql = ",\n".join(rounds_ctes)
    rank_cols = ", ".join(
        f"cast(r{i}.r as bigint) as r{i}" for i in range(1, rounds + 1))
    rank_joins = "\n".join(
        f"join r{i} on r{i}.host = h.host" for i in range(1, rounds + 1))
    return f"""
with pages as (
  select doc_id,
         concat('site', doc_id % {n_hosts}, '.example') as src_host,
         {html} as html
  from {doc_view}),
hr as ({href_rows}),
dst0 as (
  select src_host,
         case when href like '/%' then src_host
              else lower(substr(href, position('://' in href) + 3)) end
           as rest
  from hr),
dst1 as (
  select src_host,
         case when position('/' in rest) = 0 then rest
              else substr(rest, 1, position('/' in rest) - 1) end as hp
  from dst0),
dst2 as (
  select src_host,
         case when hp like '%:443' then substr(hp, 1, length(hp) - 4)
              when hp like '%:80' then substr(hp, 1, length(hp) - 3)
              else hp end as hp2
  from dst1),
resolved as (
  select src_host,
         case when hp2 like 'www.%' then substr(hp2, 5) else hp2 end
           as dst_host
  from dst2),
edges as (
  select src_host as src, dst_host as dst,
         cast(count(*) as bigint) as w
  from resolved where src_host <> dst_host
  group by src_host, dst_host),
outw as (
  select src, sum(w) as ow, cast(count(*) as bigint) as odeg
  from edges group by src),
inw as (
  select dst, sum(w) as iw from edges group by dst),
hosts as (
  select src as host from edges
  union
  select dst from edges),
params as (
  select cast(1000000000000{idiv}(select count(*) from hosts) as bigint)
           as r0,
         cast((1000000000000 * (1000 - {damp_milli}))
              {idiv}1000{idiv}(select count(*) from hosts) as bigint)
           as base),
r0 as (
  select host, (select r0 from params) as r from hosts),
{rounds_sql}
select h.host,
       cast(coalesce(o.odeg, 0) as bigint) as out_deg,
       cast(coalesce(o.ow, 0) as bigint) as out_w,
       cast(coalesce(i.iw, 0) as bigint) as in_w,
       {rank_cols}
from hosts h
left join outw o on o.src = h.host
left join inw i on i.dst = h.host
{rank_joins}
"""


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge learning over the word-frequency table)
# ---------------------------------------------------------------------------


def bpe_merges_sql(doc_view: str, engine: str,
                   rounds: int = 3, topk: int = 8) -> str:
    """Byte-pair-encoding merge learning (Sennrich, Haddow & Birch,
    ACL 2016 "Neural Machine Translation of Rare Words with Subword
    Units" — the tokenizer-training algorithm behind GPT-2/RoBERTa
    vocabularies): learn the first ``rounds`` merges of a BPE
    vocabulary from the corpus, exactly as a distributed trainer
    would at 100 TB.

    Stages, each with its scale shape stated:

    1. **Word-frequency aggregation** — lowercase ``[a-z]+`` tokens →
       (word, count). This is the ONE full-corpus pass (explode +
       groupBy with map-side partials); every later stage touches only
       the vocab table (~10⁷ rows at web scale, independent of corpus
       size) — the same two-tier design as real BPE trainers
       (HuggingFace tokenizers aggregates word counts first, then
       iterates merges over the vocab).
    2. **Spelling** — each word becomes space-separated single-char
       symbols plus the Sennrich end-of-word marker ``</w>``.
    3. **Per-round merge learning**, unrolled ``rounds`` times over
       the vocab table only:
       a. *pair counting*: explode adjacent symbol positions; each
          occurrence contributes the word's corpus count (overlapping
          occurrences each count, matching Sennrich's ``get_stats``).
       b. *best pair*: max count, ties broken by (s1, s2) ascending —
          a DOCUMENTED divergence from Sennrich's dict-order
          tie-break (which is Python-insertion-order, not a spec);
          ours is deterministic cross-engine.
       c. *merge application*: left-to-right non-overlapping within
          each word (Sennrich's ``re.sub`` semantics). Closed form:
          adjacent conflicting matches are only possible when
          s1 == s2, so a match position merges iff it sits at an EVEN
          offset within its run of consecutive matching positions —
          a gaps-and-islands window (run id = p − row_number), no
          sequential scan.
       Each round is two vocab-sized exchanges (pair groupBy + word
       rebuild groupBy); the best-pair scalar subquery broadcasts.
    4. **Output** — per round, the ``topk`` candidate pairs with
       count, deterministic rank, the merged flag, and the round's
       distinct-pair universe size. Everything integer/string →
       bit-stable cross-engine.
    """
    if engine == SPARK:
        words = (f"select explode(split(lower(text), '[^a-z]+')) as w"
                 f" from {doc_view}")
        spell = "concat(regexp_replace(w, '(.)', '$1 '), '</w>')"

        def pos_cte(i: int) -> str:
            return (f"select w, cnt, a, p from a{i}"
                    f" lateral view explode(sequence(1, size(a))) t as p")

        def elem(arr: str, idx: str) -> str:
            return f"try_element_at({arr}, {idx})"

        rebuild_agg = ("array_join(transform(array_sort(collect_list("
                       "struct(p, piece))), x -> x.piece), ' ')")
        split_syms = "split(syms, ' ')"
    else:
        words = (f"select unnest(string_split_regex(lower(text),"
                 f" '[^a-z]+')) as w from {doc_view}")
        spell = r"concat(regexp_replace(w, '(.)', '\1 ', 'g'), '</w>')"

        def pos_cte(i: int) -> str:
            return (f"select w, cnt, a, unnest(range(1, len(a) + 1)) as p"
                    f" from a{i}")

        def elem(arr: str, idx: str) -> str:
            return f"{arr}[{idx}]"

        rebuild_agg = "string_agg(piece, ' ' order by p)"
        split_syms = "string_split(syms, ' ')"

    round_ctes = []
    out_rows = []
    for i in range(1, rounds + 1):
        prev = f"v{i - 1}"
        round_ctes.append(f"""a{i} as (
  select w, cnt, {split_syms} as a from {prev}),
pos{i} as ({pos_cte(i)}),
pr{i} as (
  select w, cnt, p, {elem('a', 'p')} as s1, {elem('a', 'p + 1')} as s2
  from pos{i}),
pc{i} as (
  select s1, s2, cast(sum(cnt) as bigint) as pcnt
  from pr{i} where s2 is not null group by s1, s2),
rk{i} as (
  select s1, s2, pcnt,
         cast(row_number() over (order by pcnt desc, s1, s2) as bigint)
           as rnk,
         cast(count(*) over () as bigint) as n_pairs
  from pc{i}),
mt{i} as (
  select w, p, p - row_number() over (partition by w order by p) as run
  from pr{i}
  where s1 = (select s1 from rk{i} where rnk = 1)
    and s2 = (select s2 from rk{i} where rnk = 1)),
st{i} as (
  select w, p from (
    select w, p, row_number() over (partition by w, run order by p) as rn
    from mt{i}) x where rn % 2 = 1),
v{i} as (
  select r.w, r.cnt, {rebuild_agg} as syms
  from (
    select pr.w, pr.cnt, pr.p,
           case when s.p is not null then concat(pr.s1, pr.s2)
                when s0.p is not null then cast(null as string)
                else pr.s1 end as piece
    from pr{i} pr
    left join st{i} s on s.w = pr.w and s.p = pr.p
    left join st{i} s0 on s0.w = pr.w and s0.p = pr.p - 1) r
  where r.piece is not null
  group by r.w, r.cnt)""")
        out_rows.append(f"""select cast({i} as int) as round, rnk,
       s1 as left_sym, s2 as right_sym, pcnt as pair_cnt,
       cast(case when rnk = 1 then 1 else 0 end as int) as merged,
       n_pairs
from rk{i} where rnk <= {topk}""")
    rounds_sql = ",\n".join(round_ctes)
    union_sql = "\nunion all\n".join(out_rows)
    return f"""
with words0 as ({words}),
vocab as (
  select w, cast(count(*) as bigint) as cnt
  from words0 where w <> '' group by w),
v0 as (select w, cnt, {spell} as syms from vocab),
{rounds_sql}
{union_sql}
"""


# ---------------------------------------------------------------------------
# Cross-snapshot crawl delta
# ---------------------------------------------------------------------------


def snapshot_delta_sql(doc_view: str, engine: str,
                       n_hosts: int = 50) -> str:
    """Cross-snapshot crawl delta — the incremental-crawl comparison
    job every recurring web corpus runs (Common Crawl publishes
    new-vs-seen URL overlap per crawl; refresh pipelines schedule
    re-fetches from exactly this changed/gone/new classification).

    Snapshot A is the corpus's canonical (url, content-hash) set;
    snapshot B is synthesized deterministically from the same rows:
    per doc_id decile, 10% of pages are GONE (absent from B), 20%
    CHANGED (content hash differs), the rest unchanged; every
    doc_id % 7 == 0 page contributes an additional NEW url. The
    classifier is ONE hash-partitioned FULL OUTER equi-join on url —
    at 10¹² documents this is the canonical shuffle-on-key comparison
    (both sides carry url + 32-byte md5, never page bodies), and the
    per-host rollup is a keyed aggregate with map-side partials.
    Output per host: unchanged/changed/gone/new counts + totals —
    all bigint, bit-stable cross-engine.
    """
    _ = engine  # shared text: md5/concat/full join are identical
    return f"""
with a as (
  select concat('https://site', doc_id % {n_hosts}, '.example/p/', doc_id)
           as url,
         concat('site', doc_id % {n_hosts}, '.example') as host,
         md5(text) as h
  from {doc_view}),
b as (
  select concat('https://site', doc_id % {n_hosts}, '.example/p/', doc_id)
           as url,
         concat('site', doc_id % {n_hosts}, '.example') as host,
         case when doc_id % 10 in (5, 6) then md5(concat(text, ' v2'))
              else md5(text) end as h
  from {doc_view} where doc_id % 10 <> 7
  union all
  select concat('https://site', doc_id % {n_hosts}, '.example/new/',
                doc_id) as url,
         concat('site', doc_id % {n_hosts}, '.example') as host,
         md5(concat('new ', text)) as h
  from {doc_view} where doc_id % 7 = 0),
j as (
  select coalesce(a.host, b.host) as host,
         case when b.url is null then 'gone'
              when a.url is null then 'new'
              when a.h = b.h then 'unchanged'
              else 'changed' end as status
  from a full outer join b on a.url = b.url)
select host,
       cast(sum(case when status = 'unchanged' then 1 else 0 end)
            as bigint) as n_unchanged,
       cast(sum(case when status = 'changed' then 1 else 0 end)
            as bigint) as n_changed,
       cast(sum(case when status = 'gone' then 1 else 0 end)
            as bigint) as n_gone,
       cast(sum(case when status = 'new' then 1 else 0 end)
            as bigint) as n_new,
       cast(count(*) as bigint) as n_total
from j group by host
"""

# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

# Fixture query set: terms drawn from the synthetic corpus's own
# vocabulary with deliberately different document frequencies, so the
# IDF term actually discriminates (same corpus-parameterization stance
# as FIXTURE_STOPWORDS).
BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("vector", "stream", "spark")),
    (3, ("customer", "query", "window")),
)


def bm25_topk_sql(doc_view: str, engine: str,
                  queries: tuple = BM25_QUERIES,
                  topk: int = 10) -> str:
    """Okapi BM25 ranked retrieval (Robertson & Walker SIGIR'94; the
    Lucene/Elasticsearch default scorer) — top-k documents per query:

        score(q,d) = sum_t  ln(1 + (N - df + 0.5)/(df + 0.5))
                          * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))

    with k1=1.2, b=0.75 and the Lucene non-negative IDF variant.

    Determinism: every score contribution is computed in DOUBLE from
    exact integer inputs (tf, df, dl, N, total_words) through identical
    expression text in both dialects (ln and IEEE ops bit-agree — the
    ccnet/dsir precedent), then snapped to integer NANO units before the
    per-(query,doc) sum, so aggregation is exact and order-independent;
    ranking ties break on doc_id. All float literals are e-notation
    doubles (DuckDB parses bare decimals as DECIMAL — the color-merge
    lesson).

    Scale shape (100 TB): one token explode feeds BOTH the doc-length
    aggregate and the term-filtered tf aggregate; the `word IN (terms)`
    filter drops everything but query terms BEFORE the tf shuffle, so
    the expensive shuffle carries only (doc, query-term) rows — at
    10^12 docs that is |terms| * df rows, not the corpus. df and the
    query table are tiny (broadcast); the only doc-keyed shuffles are
    the dl aggregate and the final per-(query,doc) sum. Reference tie:
    the OGR SQL string/LIKE surface (ogr/swq_op_general.cpp) is the
    reference's retrieval primitive; BM25 is the web-corpus extension.
    """
    toks = tokens_sql("text", engine)
    all_terms = sorted({t for _, ts in queries for t in ts})
    in_list = ", ".join(f"'{t}'" for t in all_terms)
    qvals = ", ".join(f"({qid}, '{t}')" for qid, ts in queries
                      for t in ts)
    return f"""
with t as (
  select doc_id, {toks} as _toks from {doc_view}),
w as (
  select doc_id, {explode_sql('_toks', 'word', engine)} from t),
dl as (
  select doc_id, cast(count(*) as bigint) as dl
  from w group by doc_id),
g as (
  select cast(sum(dl) as bigint) as total_words,
         cast(count(*) as bigint) as n_docs from dl),
q as (
  select * from (values {qvals}) as v(query_id, term)),
tf as (
  select doc_id, word as term, cast(count(*) as bigint) as tf
  from w where word in ({in_list}) group by doc_id, word),
df as (
  select term, cast(count(*) as bigint) as df from tf group by term),
contrib as (
  select q.query_id, tf.doc_id,
         cast(round(
           ln(1e0 + (cast((select n_docs from g) as double)
                     - df.df + 5e-1) / (df.df + 5e-1))
           * (tf.tf * 2.2e0)
           / (tf.tf + 1.2e0 * (2.5e-1
              + 7.5e-1 * dl.dl * (select n_docs from g)
                / cast((select total_words from g) as double)))
           * 1e9) as bigint) as c_nano
  from q
  join tf on tf.term = q.term
  join dl on dl.doc_id = tf.doc_id
  join df on df.term = tf.term),
scored as (
  select query_id, doc_id, cast(sum(c_nano) as bigint) as score_nano,
         cast(count(*) as bigint) as n_terms_hit
  from contrib group by query_id, doc_id),
ranked as (
  select query_id, doc_id, score_nano, n_terms_hit,
         row_number() over (partition by query_id
                            order by score_nano desc, doc_id) as rnk
  from scored)
select cast(query_id as bigint) as query_id, cast(rnk as bigint) as rnk,
       doc_id, score_nano, n_terms_hit
from ranked where rnk <= {topk}
"""

# ---------------------------------------------------------------------------
# HyperLogLog distinct-count sketch
# ---------------------------------------------------------------------------

HLL_M = 64          # registers (p = 6 bucket bits)
HLL_W = 40          # rho field width: bits 6..45 of the 60-bit hash
HLL_ALPHA_MILLI = 709  # alpha_64 = 0.709 (Flajolet et al. 2007, Fig. 3)
# alpha_m * m^2 * 2^W, exact in int64: numerator of the raw estimate
_HLL_NUM = HLL_ALPHA_MILLI * HLL_M * HLL_M * (1 << HLL_W)


def hll_distinct_sql(doc_view: str, engine: str) -> str:
    """HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet &
    Meunier, AofA 2007 — the cardinality estimator behind BigQuery's
    APPROX_COUNT_DISTINCT and Redis PFCOUNT), m=64 registers, with the
    small-range linear-counting correction, next to the exact count so
    the contract pins the estimator's math AND its accuracy.

    Three lanes exercise both branches: 'url' (one per doc — raw-HLL
    branch), 'host' (50 distinct — linear-counting branch), 'word'
    (corpus vocabulary). Everything is exact integer arithmetic:
    rho via length(bin(r)) on the 40-bit field (no float log), register
    powers 2^(41-M) are exact int64, the raw estimate is one truncating
    integer division of alpha*m^2*2^40-scaled constants, and the LC
    branch's ln runs over identical expression text (the ccnet/dsir
    bit-agreement precedent).

    Scale shape (100 TB): COUNT(DISTINCT url) over 10^12 rows shuffles
    every distinct value; the sketch shuffles NOTHING but (entity,
    bucket, max-rho) partials — max() is map-side combinable, the merge
    is 64 rows per entity, and sketches from different partitions/days
    merge by register max (the property that makes HLL the standard
    crawl-scale uniques counter). The exact lane here is the oracle's
    cross-check, not the scale path."""
    toks = tokens_sql("text", engine)
    h = h60_sql("v", engine)
    idiv = "div" if engine == SPARK else "//"
    two_w = 1 << HLL_W
    return f"""
with items as (
  select 'url' as entity, concat('u', doc_id) as v from {doc_view}
  union all
  select 'host' as entity, concat('h', doc_id % 50) as v from {doc_view}
  union all
  select 'word' as entity, word as v
  from (select {explode_sql(toks, 'word', engine)} from {doc_view})),
exact as (
  select entity, cast(count(distinct v) as bigint) as n_exact
  from items group by entity),
hashed as (
  select entity, {h} as h from items),
rho as (
  select entity, h % {HLL_M} as bucket,
         case when (h {idiv} {HLL_M}) % {two_w} = 0 then {HLL_W + 1}
              else {HLL_W + 1}
                   - length(bin((h {idiv} {HLL_M}) % {two_w}))
         end as r
  from hashed),
regs as (
  select entity, bucket, max(r) as m
  from rho group by entity, bucket),
agg as (
  select entity,
         cast(sum(cast(power(2e0, {HLL_W + 1} - m) as bigint))
              as bigint) as s_present,
         cast(count(*) as bigint) as n_present
  from regs group by entity),
est as (
  select entity,
         s_present + ({HLL_M} - n_present)
           * cast({1 << (HLL_W + 1)} as bigint) as s,
         {HLL_M} - n_present as v_zero
  from agg),
raw as (
  select entity, v_zero,
         cast({_HLL_NUM} as bigint) * 2 {idiv} (1000 * s) as e_raw
  from est),
final as (
  select entity,
         case when e_raw <= {(5 * HLL_M) // 2} and v_zero > 0
              then cast(round({HLL_M}e0 * ln({HLL_M}e0 / v_zero))
                        as bigint)
              else e_raw end as hll_estimate
  from raw)
select e.entity, e.n_exact, f.hll_estimate,
       abs(f.hll_estimate - e.n_exact) * 1000 {idiv} e.n_exact
         as err_milli
from exact e join final f on f.entity = e.entity
"""

# ---------------------------------------------------------------------------
# Sliding-window chunking (RAG / context-window preprocessing)
# ---------------------------------------------------------------------------

CHUNK_WINDOW = 32  # tokens per chunk
CHUNK_STRIDE = 24  # new tokens per step (8-token overlap)


def chunk_windows_sql(doc_view: str, engine: str,
                      window: int = CHUNK_WINDOW,
                      stride: int = CHUNK_STRIDE) -> str:
    """Sliding-window document chunking — the overlapping fixed-token
    splitter every RAG indexer and long-context preprocessor runs
    (LangChain's TokenTextSplitter / HF tokenizers' stride semantics):
    window of 32 tokens advancing 24 per step, so consecutive chunks
    share an 8-token overlap and no token is lost.

    Chunk count per doc is the closed form 1 + ceil(max(n-w,0)/s),
    spelled with integer arithmetic ((n - w + s - 1) div s) so both
    engines agree on every boundary; chunk i slices tokens
    [1+i*s, 1+i*s+w) — the final chunk simply runs short. Output per
    chunk: 1-based start, token count, char count, and the md5 of the
    space-rejoined window (the downstream chunk-dedup key).

    Scale shape (100 TB): a pure narrow projection — tokens explode
    from each doc's own array via sequence+transform, so chunking
    shuffles NOTHING; at 10^12 docs it parallelizes by input split
    exactly like the scan. Complements train_pack_sequences (packing
    ACROSS docs, which needs the prefix-sum shuffle) — within-doc
    windowing is the shuffle-free half of the pair."""
    toks = tokens_sql("text", engine)
    w, s = window, stride
    if engine == SPARK:
        nchunks = f"(1 + (greatest(size(_toks) - {w}, 0) + {s - 1}) div {s})"
        chunk = f"slice(_toks, 1 + i * {s}, {w})"
        iexpr = f"explode(sequence(0, {nchunks} - 1)) as i"
        join_c = f"concat_ws(' ', _chunk)"
        clen = "size(_chunk)"
    else:
        nchunks = (f"(1 + (greatest(length(_toks) - {w}, 0) + {s - 1})"
                   f" // {s})")
        chunk = f"list_slice(_toks, 1 + i * {s}, i * {s} + {w})"
        iexpr = f"unnest(range(0, {nchunks})) as i"
        join_c = "array_to_string(_chunk, ' ')"
        clen = "length(_chunk)"
    return f"""
with t as (
  select doc_id, {toks} as _toks from {doc_view}),
idx as (
  select doc_id, _toks, {iexpr} from t),
c as (
  select doc_id, cast(i as bigint) as chunk_idx,
         cast(1 + i * {s} as bigint) as start_tok,
         {chunk} as _chunk
  from idx)
select doc_id, chunk_idx, start_tok,
       cast({clen} as bigint) as n_toks,
       cast(length({join_c}) as bigint) as n_chars,
       md5({join_c}) as chunk_md5
from c
"""
