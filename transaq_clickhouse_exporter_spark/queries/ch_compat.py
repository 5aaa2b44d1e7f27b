"""ClickHouse SQL dialect compatibility — run the reference's panel
SQL (and a user's ad-hoc CH queries) on Spark with minimal editing.

The reference's entire query surface is CH SQL inside Grafana panels
(``etc/grafana-dashboard-trades.json``: ``toStartOfInterval(time,
INTERVAL $interval minute)``, ``topK``, signed sums, ``FINAL`` reads).
:mod:`..queries.dashboard` re-expresses each panel as a DataFrame
builder and :mod:`.sql` as Spark-dialect text — this module closes the
last gap: paste CH-dialect SQL, run it.

Two mechanisms, used together by :func:`run_ch_sql`:

1. **Scalar shims as native SQL UDFs** (:func:`register_ch_functions`)
   — Spark ≥4.0 ``CREATE TEMPORARY FUNCTION … RETURN <expr>`` defines
   them JVM-side: they inline into the Catalyst plan (constant-folded,
   codegen'd, pushdown-friendly) with ZERO Python overhead — these are
   not Python UDFs.  Covers ``toStartOfInterval`` (any day-time
   INTERVAL literal), ``toDateTime``/``toDate``/``toUnixTimestamp``,
   ``intDiv``/``modulo``, ``toInt64``/``toFloat64``/``toString``,
   ``toStartOfMinute/Hour/Day/Week/Month/Quarter/Year``,
   ``toYYYYMM[DD]``, ``toYear/Month/DayOfMonth/DayOfWeek`` (CH ISO
   Mon=1), ``toHour/Minute/Second``.
2. **A conservative text translator** (:func:`translate_ch_sql`) for
   what a scalar UDF cannot express — aggregate renames and CH's
   parameterized-aggregate syntax — using a real paren-matching
   scanner, not regex-over-nested-parens:

   - ``uniqExact(x[, y…])``      → ``count(DISTINCT x[, y…])``
   - ``uniq/uniqCombined/uniqHLL12(x)`` → ``approx_count_distinct(x)``
   - ``quantile(q)(x)`` / ``quantileExact(q)(x)`` → ``percentile(x, q)``
   - ``countIf(c)`` / ``countIf(x, c)`` → ``count_if(c)`` / CASE form
   - ``sumIf/avgIf/minIf/maxIf(x, c)`` → ``agg(CASE WHEN c THEN x END)``
     — each condition ``c`` CAST to BOOLEAN, as CH conditions are UInt8
   - ``any(x)``                  → ``any_value(x)``
   - ``FROM t FINAL``            → ``FROM t`` (the engine's views
     already apply ReplacingMergeTree FINAL on read — op01/op02)

   - ``topK(k)(x)`` / ``topKWeighted(k)(x, w)`` → a PRE-AGGREGATED
     two-level rewrite (``_preaggregate_topk``): the enclosing SELECT
     block re-plans as ``GROUP BY keys, value`` + rank-and-slice so the
     aggregation state is d-sized (distinct values), never n-sized —
     the 100 TB-safe plan; unsupported block shapes fall back to the
     exact ``ch_topk(collect_list(…), k)`` expression (tie rule
     count-desc/value-asc in both — `functions/topk.py`)
   - ``retention(c1, c2…)``      → per-condition any-row flags,
     ``r[0]=flag1, r[i]=flag1·flag_i``  (CH's bitmask state)
   - ``sequenceMatch/sequenceCount('pat')(ts, c1…)`` → regex over a
     per-group token string; time guards ``(?t op N)`` (r16) → greedy
     chain fold over the token struct array (`functions/seqmatch.py`
     contract, `chain_count_fold_sql`)
   - ``windowFunnel(w[, mode])(ts, c1…)`` → one-pass fold over sorted
     events, CH default-mode exact (max over all anchors, equal ts
     allowed; `functions/funnel.py window_funnel_ch` is the DataFrame
     twin); ``'strict_increase'`` supported, other modes raise
   - ``quantileTiming/quantileTDigest(q)(x)`` → ``percentile_approx``
   - ``arrayJoin/argMax/argMin/groupArray/groupUniqArray`` → renames

   Everyday-surface bridges (round 8): ``add*/subtract*`` calendar
   arithmetic → ``timestampadd``; ``dateDiff`` with CH's
   BOUNDARY-CROSSING semantics (not complete units — ``timestampdiff``
   would silently disagree); ``formatDateTime`` %-token translation;
   the array HOF family (``arrayMap/Filter/Exists/All/Count``) with
   CH's (lambda, array) argument order swapped to Spark's;
   ``argMaxIf/argMinIf``; ``splitByString``; the statistics renames
   (``stddevPop`` → ``stddev_pop`` etc.); ``toStartOfFive/Ten/
   FifteenMinutes``, ``today/yesterday/now``, ``intDivOrZero``.

   Statement/expression spellings (round 12 continuation): the
   C-style ternary ``cond ? a : b`` → ``if()``; postfix ``expr::Type``
   casts on the CAST type mapping; ``(tuple_expr).N`` element access;
   ``QUALIFY pred`` (projected-predicate wrapper, DISTINCT raises);
   ``LIMIT offset, n`` and the ANSI ``OFFSET a ROWS FETCH FIRST b
   ROWS ONLY|WITH TIES`` pagination family; ``SELECT TOP n [WITH
   TIES]``; parenless ``* EXCEPT col``; ASOF JOIN over CTE-named and
   parenthesized-subquery sides, ``ASOF INNER``, ``USING (k…, ts)``,
   and PARALLEL multi-ASOF statements (one bridge pass per join);
   CHAINED ASOF (left-associative — each pass bridges the next link
   against the previous pass's view, r13); ``PASTE JOIN`` raises by
   name (positional pairing is order-undefined on a parallel
   source).

   Anything it does not recognize passes through untouched, so plain
   ANSI stays intact; CH aggregates with no faithful mapping —
   order-dependent state machines (``runningDifference``,
   ``neighbor``, ``deltaSum``, ``groupArrayMoving*``) and the
   map-merge family (``sumMap``…) — raise ``UnsupportedChSql`` with
   the offending name rather than mistranslating — use window
   functions / explode+GROUP BY / the DataFrame operators for those.
   ``sequenceNextNode`` is exact for all six CH-valid
   ``(direction, base)`` pairs — ``forward``×``head``/``first_match``/
   ``last_match`` and ``backward``×``tail``/``first_match``/
   ``last_match`` (r14) — and raises at RUNTIME on groups with
   duplicate timestamps (CH's node order is undefined there); only
   the two combinations CH's own factory rejects,
   ``('backward', 'head')`` and ``('forward', 'tail')``, raise by
   name.

Scanning contract (every text pass of the translator): two kinds of
span are OPAQUE — a single-quoted string literal (``'it''s'``: a
doubled quote stays inside; CH backslash escapes are first rewritten
to doubling by ``_normalize_escapes``) and a backtick-quoted
identifier (a name like ``a(b, c]`` between backticks).  Brackets,
commas, quotes and keywords inside either never count.  No pass
scans quotes or counts brackets by hand; each uses one of three
helpers:

- ``_find_partner`` to MATCH: the partner of a ``(``/``)``/``[``/``]``
  (forward from an opener, backward from a closer) or the closing
  quote of a span, -1 when unbalanced (``_find_close`` raises
  instead, for callers with no message of their own);
- ``_split_args`` to SPLIT text on its top-level commas;
- ``_sub_masked`` to SPLICE: a regex run on the ``_mask_literals``
  shadow, its string or function replacement spliced into the
  original text.

Regex scans read a same-length shadow: ``_mask_literals`` blanks
literal content, ``_mask_idents`` blanks identifier content as well;
``_depth_map`` gives a per-character paren depth that ignores both.

Call registry (``_rewrite_calls``): one scan finds every ``name(…)``
call, innermost first, and hands it to the one handler registered for
``name``.  Mapping a ClickHouse function is one registration:

    @_calls("fooBar")
    def _foo_bar(call: _Call) -> str | None: ...

- Names match exactly, as ClickHouse matches most of its names;
  ``@_calls(…, ci=True)`` matches any casing, for the ones ClickHouse
  registers case-insensitively (``count``, ``any``, ``position``,
  ``round``, ``cast``, ``extract``, the ``dateDiff`` spellings …).
- A handler returns the Spark text, raises ``UnsupportedChSql`` to
  refuse, or returns None to keep the call as written.  ``call.parts``
  splits the arguments; ``call.has_params`` and ``call.args()`` read
  the ``name(params)(args)`` form.
- The name tables (``_RENAMES``, ``_IF_AGGS``, ``_UNSUPPORTED`` …)
  register each of their names the same way.  Claiming a name twice
  raises at import, so no entry can shadow another; a ``-State`` /
  ``-Merge`` spelling that no entry claims is refused by pattern.

Documented deviations from ClickHouse (each also noted at its shim):

- ``toDate(N)`` for a NUMERIC argument that spells a valid yyyyMMdd
  date (e.g. ``toDate(20240305)``) parses as that calendar date here;
  CH reads any numeric > 65535 as unix seconds (→ 1970-08-22).  The
  STRING-typed shim cannot distinguish the two spellings after
  coercion, and the compact date is the common SQL-text intent.
- ``medianExact``/``quantileExact`` map to Spark ``median``/
  ``percentile``, which interpolate on even counts where CH is
  nearest-rank.
- ``range()`` bridges positive steps only: a non-positive LITERAL
  step raises (CH counts down for step<0, throws for step=0); a
  non-literal step expression passes through on the caller's word.
- ``round`` keeps Spark's HALF_UP at the .5 midpoint where CH uses
  banker's rounding (HALF_EVEN) for floats; spell ``bround`` for
  CH-exact midpoints.
- ``JSONExtract*`` supports the single-key form only (variadic key
  paths and array-index arguments stay loud).
- subscripts ``x[i]`` return NULL on an out-of-range index where CH
  returns the element type's default value (0 / ``''``); the same
  NULL-vs-type-default note applies to ``LEFT ARRAY JOIN`` over an
  EMPTY array (CH renders the element default for non-Nullable
  types; this bridge's Spark columns are Nullable-typed, where CH's
  default is NULL too).
- ``toUInt64`` cannot represent values above 2^63-1 or CH's wrapped
  negatives (Spark has no unsigned 64-bit type); ``toUInt8/16/32``
  and ``toInt8/16/32`` wrap CH-exactly.
- byte-offset ``position()`` with a ``start_pos`` raises (CH counts
  the start in bytes) — ``positionUTF8`` supports all three args.
- ``WITH TOTALS`` bridges to ``GROUPING SETS ((…), ())``: the totals
  row's key columns are NULL where CH renders the type's default
  values in its separate totals block.  The same NULL-vs-type-default
  note applies to the pass-through ``WITH ROLLUP`` / ``WITH CUBE`` /
  explicit ``GROUPING SETS`` subtotal rows (Spark's ANSI NULL keys).
- ``toFixedString(s, n)`` truncates when s is longer than n (rpad
  contract) where CH throws.
- ``ORDER BY`` without a NULLS modifier sorts NULLs LAST like CH
  (normalized; Spark's ASC default is NULLS FIRST).  NaN nuance: CH
  presents values → NaN → NULL in both directions; Spark sorts NaN
  as the greatest value, so a DESC float sort presents NaN first
  here (ASC is CH-exact).
- aggregates over an EMPTY set follow ANSI/Spark — ``sum`` answers
  NULL and an ungrouped aggregate emits one NULL row — where CH
  answers the type's DEFAULT (``sum() FROM empty`` is 0 in CH).
  Consequently ``GROUP BY … WITH TOTALS`` over an empty input emits
  NO rows at all (Spark grouping-sets semantics; r12f fuzzer pin)
  where CH renders a totals block of aggregate defaults.
- ``toTypeName`` returns Spark's type spellings ('bigint'), not CH's
  ('Int64') — introspection is intentionally engine-native.
- ``bitAnd``/``bitOr``/``bitXor``/``bitNot``/shifts run in 64-bit
  signed arithmetic; CH infers the narrowest argument type (its
  ``bitNot(5)`` is 250 under UInt8 typing).  Results agree for
  Int64-typed columns.
- ``length(Array)`` raises (this bridge maps ``length`` to CH's
  byte count, which only strings have) — spell ``size()``.
- ``topK``/``topKWeighted`` block shapes the pre-aggregation rewrite
  cannot re-plan keep an n-sized ``collect_list`` expansion and emit
  :class:`TopkFallbackWarning` (raise with ``strict_scale=True``).
- KNOWN SPARK 4.1.2 LIMITATION (r13): a CORRELATED scalar subquery
  (including the quantified-comparison splices) projected directly
  over a UNION child crashes Spark's PushProjectionThroughUnion
  optimizer rule (``key not found: <inner attribute>`` — the rule's
  attribute rewrite descends into the subquery's own scope).  Loud,
  not silent; pinned in ``tests/test_r13_fuzz_finds.py`` so a Spark
  fix surfaces.  Workaround: materialize the union into a temp view
  first, or correlate against a non-union relation.

Round-9 everyday additions (hash/random/array/date/URL families):

- ``MD5``/``SHA1``/``SHA224``/``SHA256``/``SHA512`` return the digest
  BYTES like CH (``hex(MD5(x))`` is value-exact); the CH-native
  non-cryptographic hashes (``cityHash64``, ``sipHash64``,
  ``xxHash64``…) RAISE — Spark's ``xxhash64`` uses seed 42 where CH
  uses 0, and a silently different hash silently changes which rows a
  sampling predicate selects.
- ``rand()`` draws a uniform integer in [0, 2^32) like CH (NOT
  Spark's [0,1) double — ``rand() % 100`` idioms depend on it);
  ``rand64()`` packs two 32-bit draws and is SIGNED 64-bit (the
  bit-op family's deviation); ``randCanonical()`` is the [0,1) form.
- ``arraySum/arrayAvg/arrayProduct/arrayCumSum/arrayDifference``
  (and ``arrayReduce('sum'|'avg'…)``) compute in DOUBLE — CH widens
  integer inputs to (U)Int64; integers stay exact through 2^53.
  ``arrayAvg([])`` is NaN.  Lambda-first forms reduce over
  ``transform``.
- ``arrayFirst/arrayLast`` return NULL when nothing matches (CH
  returns the element type's default) — same rule as subscripts.
- ``arraySort/arrayReverseSort(lambda, arr)`` break key ties by
  element value (CH keeps input order).
- ``arrayZip`` rebuilds colN-named structs (like ``tuple()``), so
  ``tupleElement(t, N)`` positional access resolves; unequal array
  sizes raise like CH.  Unnamed-tuple display differs.
- Outer joins follow ``join_use_nulls = 1`` (SQL-standard NULLs for
  non-matched columns).  ClickHouse's DEFAULT ``join_use_nulls = 0``
  fills them with type defaults (0, '') instead — not emulated; a
  query spelling ``SETTINGS join_use_nulls = 0`` raises.
- ``parseDateTimeBestEffort`` recognizes the common interchange
  formats (ISO, dd/MM day-first like CH, dd.MM.yyyy, compact, 9-10
  digit epochs) and returns NULL on an unparseable string (CH
  throws; ``OrNull``/``OrZero`` are exact).
- ``age()`` counts complete units truncating toward zero;
  second…week ride epoch arithmetic (a DST-shortened 23-hour local
  day is not a complete day here; CH counts wall-clock components).
- URL helpers (``domain``/``path``/``queryString``/``fragment``/
  ``extractURLParameter``/``cutQueryString``…) are crash-free on
  hostile input and return '' like CH; scheme-less input parses for
  ``domain`` only (CH parses it for all of them).
- ``transform(x, from, to[, default])`` (the dictionary form) maps
  via array position; the 2-arg lambda spelling stays Spark's HOF.
- ``toDateTime64(x, p)`` accepts any precision argument but Spark
  timestamps are fixed microseconds — sub-µs digits truncate.
- ``toTimeZone``/``randConstant`` raise with pointers (zone-less
  instants / no block-constant randomness in Spark).
- CH type names in ``CAST``: the CamelCase spellings (``UInt8``,
  ``String``, ``Nullable(T)``, ``Array(T)``, ``FixedString(n)``,
  ``Decimal64(s)``, ``DateTime64(p)``…) and the function form
  ``CAST(x, 'Type')`` opt into CH semantics — integer targets WRAP
  via the to* shims; ANSI spellings in any other casing pass through
  to Spark untouched.  ``accurateCast`` maps to Spark's ANSI CAST
  (both range-error) except unsigned targets, which raise.  NESTED
  integer casts (Array elements) are ANSI range-checked, not wrapped.
- ``anyHeavy`` maps to exact ``mode()`` (CH's is an approximate,
  explicitly nondeterministic heavy-hitter pick); ``toWeek``/
  ``toYearWeek`` raise (CH mode-0 weeks have no Spark spelling —
  use ``toISOWeek``); ``countSubstrings`` counts non-overlapping
  occurrences byte-exactly.
- ``ANY [LEFT|INNER] JOIN … USING (cols)`` dedups the right side on
  the USING keys via ``any_value(struct(*)) GROUP BY`` (map-side
  partials — the dedup exchange carries ~one row per task and key;
  the pick is arbitrary, exactly CH's documented ANY contract);
  ``ALL`` before a JOIN strips (CH's explicit default multiplicity);
  ON-form / RIGHT / FULL ANY joins raise naming the workaround.
- ``kurtPop`` = Spark ``kurtosis + 3`` (Pearson vs excess);
  ``avgWeighted`` excludes NULL-value rows' weights and returns NaN
  on zero total weight, both like CH.
- ``toUnixTimestamp64Nano`` reports microsecond precision × 1000
  (Spark timestamps carry no nanoseconds).
- ``IN`` with a NULL on either side (scalar and the tuple-IN
  expansion alike) keeps ANSI three-valued logic — ``(a, b) IN
  ((1, NULL))`` and ``1 IN (2, NULL)`` render NULL where ClickHouse
  IN returns 0 (CH documents NULL-involving IN comparisons as 0).
  Inside WHERE the ROWS selected are identical (NULL filters like
  false); only a projected bare IN renders differently (ADVICE r10).
- r11a collision-fix notes: ``trunc``/``truncate`` compute through
  DOUBLE (CH returns the input type — integers/decimals beyond 2^53
  lose low digits; |x·10^n| beyond Int64 hits floor's ANSI overflow,
  loudly); 3-arg ``date_add``/``date_sub`` return TIMESTAMP where CH
  keeps Date for Date input (the 2-arg INTERVAL form is
  type-preserving); ``reverse``/``left``/``right`` on strings use
  codepoint semantics (≡ the *UTF8 forms — CH's byte-wise forms
  produce invalid UTF-8 on multi-byte input, unrepresentable as a
  Spark string value); ``unhex`` returns STRING like CH via CAST
  (non-UTF8 byte output is unrepresentable).

Template variables: ``substitute(sql, params)`` fills Grafana-style
``$var`` / ``${var}`` through the same quoting discipline as
:mod:`.sql` (``_lit``), so a hostile value cannot splice SQL.
"""

from __future__ import annotations

import itertools
import re
import threading

from collections.abc import Callable, Mapping
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .sql import _lit

#: scalar CH functions as native SQL UDFs (name → CREATE body).
def _lgamma_text(x: str) -> str:
    """Inline log-gamma via the Lanczos approximation (g=7, n=9 —
    ~15 significant digits for positive reals).  ``x`` is spliced
    textually several times: callers pass a bound variable or a
    deterministic scalar."""
    return (
        f"(0.9189385332046727 + ({x} - 0.5) * ln({x} + 6.5)"
        f" - ({x} + 6.5) + ln(0.99999999999980993"
        f" + 676.5203681218851 / ({x})"
        f" - 1259.1392167224028 / ({x} + 1)"
        f" + 771.32342877765313 / ({x} + 2)"
        f" - 176.61502916214059 / ({x} + 3)"
        f" + 12.507343278686905 / ({x} + 4)"
        f" - 0.13857109526572012 / ({x} + 5)"
        f" + 0.0000099843695780195716 / ({x} + 6)"
        f" + 0.00000015056327351493116 / ({x} + 7)))"
    )


def _betacf_text(a: str, b: str, x: str) -> str:
    """Inline incomplete-beta continued fraction (Lentz's method, the
    Numerical Recipes betacf recurrence) as a BOUNDED fold — 150
    double-step iterations carried through ``aggregate()`` state
    {c, d, h}.  Convergence for the t-test arguments (a = df/2,
    b = 1/2, x kept under the symmetry point by the ibeta wrapper)
    takes far fewer steps; once the per-step delta reaches 1 the
    extra iterations multiply h by exactly 1.  Each Lentz half-step
    is bound through a one-element transform so its clamped c/d
    factors are written once (the aa coefficients repeat textually;
    Catalyst dedups them)."""
    clamp = "(CASE WHEN abs({v}) < 1e-300 THEN 1e-300 ELSE {v} END)"
    aa1 = (f"(CAST(m AS DOUBLE) * ({b} - m) * {x}"
           f" / (({a} - 1 + 2 * m) * ({a} + 2 * m)))")
    aa2 = (f"(-({a} + m) * ({a} + {b} + m) * {x}"
           f" / (({a} + 2 * m) * ({a} + 1 + 2 * m)))")
    c1 = clamp.format(v=f"1 + {aa1} / st.c")
    d1 = "(1 / " + clamp.format(v=f"1 + {aa1} * st.d") + ")"
    c2 = clamp.format(v=f"1 + {aa2} / s1.c")
    d2 = "(1 / " + clamp.format(v=f"1 + {aa2} * s1.d") + ")"
    d0 = "(1 / " + clamp.format(
        v=f"1 - ({a} + {b}) * {x} / ({a} + 1)") + ")"
    step = (
        f"(transform(array(named_struct("
        f"'c', {c1}, 'd', {d1}, 'h', st.h * {d1} * {c1})), "
        f"s1 -> named_struct("
        f"'c', {c2}, 'd', {d2}, 'h', s1.h * {d2} * {c2})))[0]"
    )
    return (
        "aggregate(sequence(1, 150), "
        f"named_struct('c', CAST(1 AS DOUBLE), 'd', {d0}, 'h', {d0}), "
        f"(st, m) -> {step}, st -> st.h)"
    )


def _ibeta_text(a: str, b: str, x: str) -> str:
    """Inline regularized incomplete beta I_x(a, b) — the symmetry
    branch keeps the continued fraction in its fast-converging
    region.  Operands are spliced many times: callers bind them to
    lambda variables or UDF parameters first."""
    front = (f"exp({a} * ln({x}) + {b} * ln(1 - {x})"
             f" - ({_lgamma_text(a)} + {_lgamma_text(b)}"
             f" - {_lgamma_text(f'({a} + {b})')}))")
    return (
        f"(CASE WHEN isnan({x}) OR isnan({a}) OR isnan({b})"
        f" THEN CAST('NaN' AS DOUBLE)"
        f" WHEN {x} <= 0 THEN CAST(0 AS DOUBLE)"
        f" WHEN {x} >= 1 THEN CAST(1 AS DOUBLE)"
        f" WHEN {x} < ({a} + 1) / ({a} + {b} + 2)"
        f" THEN {front} * {_betacf_text(a, b, x)} / {a}"
        f" ELSE 1 - {front} * {_betacf_text(b, a, f'(1 - {x})')}"
        f" / {b} END)"
    )


def _t_pvalue_text(t: str, df: str) -> str:
    """Inline two-sided Student-t p-value:
    p = I_{df/(df+t^2)}(df/2, 1/2)."""
    return (
        f"(CASE WHEN isnan({t}) OR {df} IS NULL OR {t} IS NULL"
        f" OR {df} <= 0 THEN CAST('NaN' AS DOUBLE)"
        f" ELSE {_ibeta_text(f'({df} / 2)', 'CAST(0.5 AS DOUBLE)', f'({df} / ({df} + {t} * {t}))')} END)"
    )


_SCALAR_SHIMS: dict[str, str] = {
    # bucket a timestamp to interval starts — the dashboard's core
    # primitive (GDJ: every time-series panel).  CAST(day-time
    # interval AS BIGINT) yields whole seconds.
    "toStartOfInterval": (
        "(ts TIMESTAMP, iv INTERVAL DAY TO SECOND) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds((CAST(unix_timestamp(ts) AS BIGINT) DIV CAST(iv AS BIGINT))"
        " * CAST(iv AS BIGINT))"
    ),
    # CH accepts BOTH a renderable string and a numeric unix epoch —
    # the epoch form is the Grafana $__timeGroup idiom
    # `toDateTime(intDiv(toUnixTimestamp(t), 60) * 60)` (review r8).
    # A numeric argument coerces to its decimal string, which the
    # all-digits branch sends through timestamp_seconds.
    "toDateTime": (
        "(x STRING) RETURNS TIMESTAMP RETURN "
        "CASE WHEN x RLIKE '^[0-9]+$' "
        "THEN timestamp_seconds(CAST(x AS BIGINT)) "
        "ELSE CAST(x AS TIMESTAMP) END"
    ),
    # toDate numeric rule mirrors CH: < 65536 = days since epoch,
    # larger = unix seconds; 8-digit strings that form a VALID
    # yyyyMMdd calendar date parse as the compact-date spelling
    # (documented trade-off: such values are also valid 1970 epochs in
    # CH's numeric reading — the compact date is the common SQL-text
    # intent; month 00/13+ etc. falls through to the seconds rule)
    "toDate": (
        "(x STRING) RETURNS DATE RETURN "
        "CASE WHEN x RLIKE "
        "'^(19|20)[0-9]{2}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])$' "
        "THEN to_date(x, 'yyyyMMdd') "
        "WHEN x RLIKE '^[0-9]+$' AND CAST(x AS BIGINT) < 65536 "
        "THEN date_add(DATE'1970-01-01', CAST(x AS INT)) "
        "WHEN x RLIKE '^[0-9]+$' "
        "THEN CAST(timestamp_seconds(CAST(x AS BIGINT)) AS DATE) "
        "ELSE CAST(x AS DATE) END"
    ),
    "toUnixTimestamp": "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(ts)",
    "intDiv": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a DIV b",
    "modulo": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a % b",
    # wrap semantics + DECIMAL param: see the toUInt* block below.
    # pmod FIRST, then the signed fold — adding the bias before the
    # pmod overflows BIGINT for inputs near ±2^63 (review r9b)
    "toInt32": (
        "(x DECIMAL(38,9)) RETURNS INT RETURN "
        "CAST(CASE WHEN pmod(CAST(x AS BIGINT), 4294967296) >= "
        "2147483648 THEN pmod(CAST(x AS BIGINT), 4294967296) "
        "- 4294967296 ELSE pmod(CAST(x AS BIGINT), 4294967296) END "
        "AS INT)"
    ),
    "toInt64": "(x DECIMAL(38,9)) RETURNS BIGINT RETURN CAST(x AS BIGINT)",
    "toFloat64": "(x DOUBLE) RETURNS DOUBLE RETURN x",
    "toString": "(x STRING) RETURNS STRING RETURN x",
    "toStartOfMinute": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('minute', ts)",
    "toStartOfFiveMinutes": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds((unix_timestamp(ts) DIV 300) * 300)"
    ),
    "toStartOfTenMinutes": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds((unix_timestamp(ts) DIV 600) * 600)"
    ),
    "toStartOfFifteenMinutes": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds((unix_timestamp(ts) DIV 900) * 900)"
    ),
    "toStartOfHour": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('hour', ts)",
    "toStartOfDay": "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('day', ts)",
    # calendar family (CH returns Date for these; DATE casts match)
    # CH toStartOfWeek DEFAULT mode 0 = week starts SUNDAY (mode 1's
    # ISO Monday is toStartOfISOWeek/date_trunc) — shift+trunc+shift
    "toStartOfWeek": (
        "(ts TIMESTAMP) RETURNS DATE RETURN "
        "date_sub(CAST(date_trunc('week', date_add(CAST(ts AS DATE), 1)) AS DATE), 1)"
    ),
    "toStartOfISOWeek": (
        "(ts TIMESTAMP) RETURNS DATE RETURN CAST(date_trunc('week', ts) AS DATE)"
    ),
    "toStartOfMonth": "(ts TIMESTAMP) RETURNS DATE RETURN CAST(date_trunc('month', ts) AS DATE)",
    "toStartOfQuarter": "(ts TIMESTAMP) RETURNS DATE RETURN CAST(date_trunc('quarter', ts) AS DATE)",
    "toStartOfYear": "(ts TIMESTAMP) RETURNS DATE RETURN CAST(date_trunc('year', ts) AS DATE)",
    "toYYYYMM": "(ts TIMESTAMP) RETURNS INT RETURN CAST(date_format(ts, 'yyyyMM') AS INT)",
    "toYYYYMMDD": "(ts TIMESTAMP) RETURNS INT RETURN CAST(date_format(ts, 'yyyyMMdd') AS INT)",
    "toYear": "(ts TIMESTAMP) RETURNS INT RETURN year(ts)",
    "toMonth": "(ts TIMESTAMP) RETURNS INT RETURN month(ts)",
    "toDayOfMonth": "(ts TIMESTAMP) RETURNS INT RETURN day(ts)",
    # CH: Monday = 1 … Sunday = 7 (ISO); Spark dayofweek: Sunday = 1
    "toDayOfWeek": "(ts TIMESTAMP) RETURNS INT RETURN ((dayofweek(ts) + 5) % 7) + 1",
    "toHour": "(ts TIMESTAMP) RETURNS INT RETURN hour(ts)",
    "toMinute": "(ts TIMESTAMP) RETURNS INT RETURN minute(ts)",
    "toSecond": "(ts TIMESTAMP) RETURNS INT RETURN second(ts)",
    "toDayOfYear": "(ts TIMESTAMP) RETURNS INT RETURN dayofyear(ts)",
    "toQuarter": "(ts TIMESTAMP) RETURNS INT RETURN quarter(ts)",
    "toISOWeek": "(ts TIMESTAMP) RETURNS INT RETURN weekofyear(ts)",
    "today": "() RETURNS DATE RETURN current_date()",
    "yesterday": "() RETURNS DATE RETURN date_sub(current_date(), 1)",
    # CH's zero-on-zero-divisor integer ops (plain intDiv/modulo raise)
    "intDivOrZero": (
        "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN "
        "CASE WHEN b = 0 THEN 0 ELSE a DIV b END"
    ),
    "moduloOrZero": (
        "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN "
        "CASE WHEN b = 0 THEN 0 ELSE a % b END"
    ),
    # string emptiness (CH also applies these to arrays — use
    # size()/cardinality() for arrays on Spark).  NULL propagates:
    # CH's empty(Nullable NULL) is NULL, and length(NULL) already
    # yields NULL here — no coalesce (advisor review, round 9)
    "empty": "(x STRING) RETURNS BOOLEAN RETURN length(x) = 0",
    "notEmpty": "(x STRING) RETURNS BOOLEAN RETURN length(x) > 0",
    # round-9 dialect-probe additions (tools/dialect_probe.py): the
    # everyday CH spellings that otherwise fail loudly on Spark
    "leftPad": (
        "(s STRING, l INT, p STRING) RETURNS STRING RETURN lpad(s, l, p)"
    ),
    "rightPad": (
        "(s STRING, l INT, p STRING) RETURNS STRING RETURN rpad(s, l, p)"
    ),
    "replaceAll": (
        "(s STRING, f STRING, r STRING) RETURNS STRING RETURN "
        "replace(s, f, r)"
    ),
    "replaceRegexpAll": (
        "(s STRING, p STRING, r STRING) RETURNS STRING RETURN "
        "regexp_replace(s, p, r)"
    ),
    # first-occurrence-only replace: splice around the first instr hit
    "replaceOne": (
        "(s STRING, f STRING, r STRING) RETURNS STRING RETURN "
        "CASE WHEN f = '' OR instr(s, f) = 0 THEN s "
        "ELSE concat(substring(s, 1, instr(s, f) - 1), r, "
        "substring(s, instr(s, f) + length(f))) END"
    ),
    "match": "(h STRING, p STRING) RETURNS BOOLEAN RETURN h RLIKE p",
    # integer casts with CH's WRAP semantics: toUInt8(300) = 44,
    # toUInt32(-1) = 4294967295, toInt8(200) = -56 — modular pmod into
    # the target range, never an ANSI overflow error.  The DECIMAL
    # parameter keeps 64-bit integers exact (a DOUBLE would round
    # above 2^53) while still coercing strings and truncating
    # fractions toward zero like CH.  toUInt64 is the one deviation:
    # Spark has no unsigned 64-bit type, so values above 2^63-1 (and
    # wrapped negatives) cannot be represented — documented below.
    "toUInt8": (
        "(x DECIMAL(38,9)) RETURNS INT RETURN "
        "CAST(pmod(CAST(x AS BIGINT), 256) AS INT)"
    ),
    "toUInt16": (
        "(x DECIMAL(38,9)) RETURNS INT RETURN "
        "CAST(pmod(CAST(x AS BIGINT), 65536) AS INT)"
    ),
    "toUInt32": (
        "(x DECIMAL(38,9)) RETURNS BIGINT RETURN "
        "pmod(CAST(x AS BIGINT), 4294967296)"
    ),
    "toUInt64": "(x DECIMAL(38,9)) RETURNS BIGINT RETURN CAST(x AS BIGINT)",
    # signed folds pmod first (bias-after, not bias-before — the +128
    # spelling overflows BIGINT at the int64 edges; review r9b)
    "toInt8": (
        "(x DECIMAL(38,9)) RETURNS INT RETURN "
        "CAST(CASE WHEN pmod(CAST(x AS BIGINT), 256) >= 128 "
        "THEN pmod(CAST(x AS BIGINT), 256) - 256 "
        "ELSE pmod(CAST(x AS BIGINT), 256) END AS INT)"
    ),
    "toInt16": (
        "(x DECIMAL(38,9)) RETURNS INT RETURN "
        "CAST(CASE WHEN pmod(CAST(x AS BIGINT), 65536) >= 32768 "
        "THEN pmod(CAST(x AS BIGINT), 65536) - 65536 "
        "ELSE pmod(CAST(x AS BIGINT), 65536) END AS INT)"
    ),
    "toFloat32": "(x DOUBLE) RETURNS FLOAT RETURN CAST(x AS FLOAT)",
    # JSON extraction (single-key form; CH's variadic key paths and
    # index arguments stay loud).  Built on the VARIANT reading so the
    # shims are type-strict like CH and never throw on hostile data:
    # *String returns '' for a missing key OR a non-string value
    # (get_json_object would leak the raw JSON text of numbers /
    # objects), *Int/*Float/*Bool return 0/false when the value is
    # missing or uncastable (try_variant_get, not an ANSI CAST that
    # dies on '{"n": "abc"}'), and JSONHas distinguishes a JSON null
    # VALUE (present → true, CH-exact) from a missing KEY (false).
    # NULL/invalid-JSON input propagates NULL like CH's Nullable read.
    # single-parse plumbing: the 2-arg shims bind the extracted
    # VARIANT once via these helpers instead of re-running
    # try_parse_json + path traversal per branch (review r9b).  A NULL
    # v means missing key / invalid JSON — the CH default value; the
    # NULL-INPUT case (j/k NULL → NULL) is handled by the callers.
    "ch_json_v_str": (
        "(v VARIANT) RETURNS STRING RETURN "
        "CASE WHEN schema_of_variant(v) = 'STRING' "
        "THEN try_variant_get(v, '$', 'string') ELSE '' END"
    ),
    "ch_json_v_int": (
        "(v VARIANT) RETURNS BIGINT RETURN "
        "coalesce(try_variant_get(v, '$', 'bigint'), 0)"
    ),
    "ch_json_v_float": (
        "(v VARIANT) RETURNS DOUBLE RETURN "
        "coalesce(try_variant_get(v, '$', 'double'), 0.0)"
    ),
    "ch_json_v_bool": (
        "(v VARIANT) RETURNS BOOLEAN RETURN "
        "coalesce(try_variant_get(v, '$', 'boolean'), false)"
    ),
    "JSONExtractString": (
        "(j STRING, k STRING) RETURNS STRING RETURN "
        "CASE WHEN j IS NULL OR k IS NULL THEN NULL "
        "ELSE ch_json_v_str(variant_get(try_parse_json(j), "
        "concat('$.', k))) END"
    ),
    "JSONExtractInt": (
        "(j STRING, k STRING) RETURNS BIGINT RETURN "
        "CASE WHEN j IS NULL OR k IS NULL THEN NULL "
        "ELSE ch_json_v_int(variant_get(try_parse_json(j), "
        "concat('$.', k))) END"
    ),
    "JSONExtractFloat": (
        "(j STRING, k STRING) RETURNS DOUBLE RETURN "
        "CASE WHEN j IS NULL OR k IS NULL THEN NULL "
        "ELSE ch_json_v_float(variant_get(try_parse_json(j), "
        "concat('$.', k))) END"
    ),
    "JSONExtractBool": (
        "(j STRING, k STRING) RETURNS BOOLEAN RETURN "
        "CASE WHEN j IS NULL OR k IS NULL THEN NULL "
        "ELSE ch_json_v_bool(variant_get(try_parse_json(j), "
        "concat('$.', k))) END"
    ),
    "JSONHas": (
        "(j STRING, k STRING) RETURNS BOOLEAN RETURN "
        "CASE WHEN j IS NULL OR k IS NULL THEN NULL "
        "ELSE variant_get(try_parse_json(j), concat('$.', k)) "
        "IS NOT NULL END"
    ),
    # CH byte-offset position (the UDF parameter binds each argument
    # ONCE — the inline spelling re-evaluated the haystack three
    # times; review r9b)
    "ch_position_bytes": (
        "(h STRING, n STRING) RETURNS INT RETURN "
        "CASE WHEN locate(n, h) = 0 THEN 0 "
        "ELSE octet_length(substring(h, 1, locate(n, h) - 1)) + 1 END"
    ),
    # CH's BYTE-level Levenshtein (editDistance/levenshteinDistance
    # count byte edits, r12c — the multi-byte raise is gone):
    # Wagner–Fischer over the UTF-8 byte arrays as a nested fold —
    # outer aggregate walks a's bytes carrying the previous DP row,
    # the inner fold builds the next row left-to-right (new[j]
    # depends on new[j-1]).  O(len(a)·len(b)) array steps — these
    # run on short strings (words, codes); both engines agree with
    # plain levenshtein() on pure-ASCII input, which the dispatch
    # keeps on the fast codegen path.
    "ch_levenshtein_bytes": (
        "(a STRING, b STRING) RETURNS INT RETURN "
        "CASE WHEN a IS NULL OR b IS NULL THEN NULL "
        "WHEN octet_length(a) = 0 THEN octet_length(b) "
        "WHEN octet_length(b) = 0 THEN octet_length(a) "
        "WHEN octet_length(a) = length(a) AND "
        "octet_length(b) = length(b) THEN levenshtein(a, b) "
        "ELSE CAST(element_at(aggregate("
        "transform(sequence(1, octet_length(a)), "
        "i -> substring(encode(a, 'UTF-8'), i, 1)), "
        "sequence(CAST(0 AS BIGINT), octet_length(b)), "
        "(prev, ca) -> aggregate("
        "sequence(1, octet_length(b)), "
        "array(element_at(prev, 1) + 1), "
        "(acc, j) -> array_append(acc, least("
        "element_at(prev, CAST(j AS INT) + 1) + 1, "
        "element_at(acc, CAST(j AS INT)) + 1, "
        "element_at(prev, CAST(j AS INT)) + "
        "IF(ca = substring(encode(b, 'UTF-8'), CAST(j AS INT), 1), "
        "0, 1))))), octet_length(b) + 1) AS INT) END"
    ),
    # log-gamma / incomplete beta / t p-value as standalone shims —
    # bodies generated by the same builders the studentTTest/
    # welchTTest aggregate handler splices inline (a SQL UDF cannot
    # be extracted from a struct that also carries aggregates:
    # Spark's UDF inlining + SimplifyExtractValueOps leaves an
    # unevaluable attribute, found r12d)
    "ch_lgamma": "(x DOUBLE) RETURNS DOUBLE RETURN "
    + _lgamma_text("x"),
    "ch_betacf": "(a DOUBLE, b DOUBLE, x DOUBLE) RETURNS DOUBLE"
    " RETURN " + _betacf_text("a", "b", "x"),
    # regularized incomplete beta I_x(a, b) — the symmetry branch
    # keeps the continued fraction in its fast-converging region
    "ch_ibeta": "(a DOUBLE, b DOUBLE, x DOUBLE) RETURNS DOUBLE"
    " RETURN " + _ibeta_text("a", "b", "x"),
    "ch_t_pvalue": "(t DOUBLE, df DOUBLE) RETURNS DOUBLE RETURN "
    + _t_pvalue_text("t", "df"),
    # bitwise ops in CH's function spelling (operator forms on Spark).
    # Deviation: 64-bit signed arithmetic throughout — CH infers the
    # narrowest argument type, so e.g. CH bitNot(5) is 250 (UInt8)
    # where this returns -6; results agree for BIGINT-typed columns.
    "bitAnd": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a & b",
    "bitOr": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a | b",
    "bitXor": "(a BIGINT, b BIGINT) RETURNS BIGINT RETURN a ^ b",
    "bitNot": "(a BIGINT) RETURNS BIGINT RETURN ~a",
    # NUL-padded fixed width; deviation: CH THROWS when s is longer
    # than n, this truncates (rpad contract)
    "toFixedString": (
        "(s STRING, n INT) RETURNS STRING RETURN rpad(s, n, chr(0))"
    ),
    # CH's human-readable byte size: two decimals, IEC units
    # (formatReadableSize(1048576) = '1.00 MiB')
    "formatReadableSize": (
        "(x DOUBLE) RETURNS STRING RETURN CASE "
        "WHEN abs(x) < 1024 THEN concat(format_string('%.2f', x), ' B') "
        "WHEN abs(x) < 1048576 THEN "
        "concat(format_string('%.2f', x / 1024), ' KiB') "
        "WHEN abs(x) < 1073741824 THEN "
        "concat(format_string('%.2f', x / 1048576), ' MiB') "
        "WHEN abs(x) < 1099511627776 THEN "
        "concat(format_string('%.2f', x / 1073741824), ' GiB') "
        "WHEN abs(x) < 1125899906842624 THEN "
        "concat(format_string('%.2f', x / 1099511627776), ' TiB') "
        "WHEN abs(x) < 1152921504606846976 THEN "
        "concat(format_string('%.2f', x / 1125899906842624), ' PiB') "
        "ELSE concat(format_string('%.2f', "
        "x / 1152921504606846976), ' EiB') END"
    ),
    # count of DISTINCT elements of one array (CH arrayUniq/1)
    "arrayUniq": (
        "(xs ARRAY<STRING>) RETURNS INT RETURN size(array_distinct(xs))"
    ),
    # exact top-k most-frequent values of a collected group (the CH
    # `topK(k)(x)` aggregate's result contract), ties broken by value
    # ascending — the same (-count, value) rule as functions/topk.py.
    # The translator feeds it `collect_list(CAST(x AS STRING))`; the
    # O(d·n) per-group cost is exact and fine at panel granularity
    # (the 100 TB heavy-hitter path is functions/topk.approx_top_k).
    "ch_topk": (
        "(xs ARRAY<STRING>, k INT) RETURNS ARRAY<STRING> RETURN "
        "slice(transform(array_sort(transform(array_distinct(xs), "
        "v -> struct(-size(filter(xs, y -> y <=> v)) AS nc, v AS val))), "
        "s -> s.val), 1, k)"
    ),
    # weighted twin: rank by summed weight instead of row count, same
    # (-weight, value asc) tie rule (`topKWeighted(k)(x, w)`)
    "ch_topk_weighted": (
        "(xs ARRAY<STRUCT<v: STRING, w: BIGINT>>, k INT) "
        "RETURNS ARRAY<STRING> RETURN "
        "slice(transform(array_sort(transform("
        "array_distinct(transform(xs, e -> e.v)), "
        "v -> struct(-aggregate(filter(xs, y -> y.v <=> v), "
        "CAST(0 AS BIGINT), (a, y) -> a + y.w) AS nw, v AS val))), "
        "s -> s.val), 1, k)"
    ),
    # scale-path finisher for the topK pre-aggregation rewrite
    # (_preaggregate_topk): input is ONE ENTRY PER DISTINCT VALUE
    # (weight already pre-summed by a hash aggregate), so this is a
    # d-sized sort+slice, not the O(d·n) rescan of ch_topk.  NULL
    # values are dropped (CH aggregate functions skip NULLs).  Tie
    # rule identical to ch_topk / functions/topk.py: weight desc,
    # value asc.
    "ch_topk_pre": (
        "(es ARRAY<STRUCT<w: BIGINT, v: STRING>>, k INT) "
        "RETURNS ARRAY<STRING> RETURN "
        "slice(transform(array_sort(transform("
        "filter(es, e -> e.v IS NOT NULL), "
        "e -> struct(-e.w AS nw, e.v AS val))), "
        "s -> s.val), 1, k)"
    ),
}

# CH's visitParam* (legacy) and simpleJSON* (current) spellings are a
# faster non-strict parser over the same contract — alias them to the
# strict shims (one body each, no hand-copied triplicates; the parsing
# shortcuts are a CH performance detail, not a semantic one)
_SCALAR_SHIMS.update({
    alias: _SCALAR_SHIMS[target]
    for alias, target in {
        "visitParamExtractString": "JSONExtractString",
        "simpleJSONExtractString": "JSONExtractString",
        "visitParamExtractInt": "JSONExtractInt",
        "simpleJSONExtractInt": "JSONExtractInt",
        "visitParamExtractFloat": "JSONExtractFloat",
        "simpleJSONExtractFloat": "JSONExtractFloat",
        "visitParamExtractBool": "JSONExtractBool",
        "simpleJSONExtractBool": "JSONExtractBool",
        "visitParamHas": "JSONHas",
        "simpleJSONHas": "JSONHas",
    }.items()
})

# CH's typed empty-array constructors (integer kinds share BIGINT —
# Spark arrays are not width-parameterized)
_SCALAR_SHIMS.update({
    f"emptyArray{ch}": f"() RETURNS ARRAY<{spark}> RETURN "
    f"CAST(array() AS ARRAY<{spark}>)"
    for ch, spark in [
        ("String", "STRING"), ("Date", "DATE"), ("DateTime", "TIMESTAMP"),
        ("Float32", "DOUBLE"), ("Float64", "DOUBLE"),
        *((f"{u}Int{w}", "BIGINT")
          for u in ("", "U") for w in (8, 16, 32, 64)),
    ]
})

# parseDateTimeBestEffort family: the common interchange formats CH's
# best-effort parser recognizes, tried most-specific first.  CH
# resolves the DD/MM-vs-MM/DD ambiguity day-first (its docs call out
# the deviation from MySQL) — dd/MM is the only slash-day format
# offered.  DEVIATION: the base spelling returns NULL on an
# unparseable string (CH throws; OrNull is the exact match, OrZero
# pins to epoch 0 like CH).
_BEST_EFFORT_BODY = (
    "coalesce("
    "CASE WHEN x RLIKE '^[0-9]{9,10}$' "
    "THEN timestamp_seconds(CAST(x AS BIGINT)) END, "
    "try_to_timestamp(x), "
    "try_to_timestamp(x, 'yyyy/MM/dd HH:mm:ss'), "
    "try_to_timestamp(x, 'yyyy/MM/dd'), "
    "try_to_timestamp(x, 'dd.MM.yyyy HH:mm:ss'), "
    "try_to_timestamp(x, 'dd.MM.yyyy'), "
    "try_to_timestamp(x, 'dd/MM/yyyy HH:mm:ss'), "
    "try_to_timestamp(x, 'dd/MM/yyyy HH:mm'), "
    "try_to_timestamp(x, 'dd/MM/yyyy'), "
    "try_to_timestamp(x, 'yyyyMMddHHmmss'), "
    "try_to_timestamp(x, 'yyyyMMdd'), "
    "try_to_timestamp(x, 'dd MMM yyyy HH:mm:ss'), "
    "try_to_timestamp(x, 'dd MMM yyyy'))"
)

_SCALAR_SHIMS.update({
    "parseDateTimeBestEffort": (
        f"(x STRING) RETURNS TIMESTAMP RETURN {_BEST_EFFORT_BODY}"
    ),
    "parseDateTimeBestEffortOrNull": (
        f"(x STRING) RETURNS TIMESTAMP RETURN {_BEST_EFFORT_BODY}"
    ),
    "parseDateTimeBestEffortOrZero": (
        "(x STRING) RETURNS TIMESTAMP RETURN "
        f"coalesce({_BEST_EFFORT_BODY}, timestamp_seconds(0))"
    ),
    # calendar helpers (session timezone governs, like the other
    # toStartOf* shims)
    "toMonday": (
        "(d TIMESTAMP) RETURNS DATE RETURN "
        "CAST(date_trunc('week', d) AS DATE)"
    ),
    "toLastDayOfMonth": "(d TIMESTAMP) RETURNS DATE RETURN last_day(d)",
    # toRelative*Num: epoch-based unit ordinals (same UTC floor
    # arithmetic CH uses; the minute/hour forms are what dateDiff's
    # boundary counting is built from)
    "toRelativeSecondNum": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(ts)"
    ),
    "toRelativeMinuteNum": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(ts) DIV 60"
    ),
    "toRelativeHourNum": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_timestamp(ts) DIV 3600"
    ),
    "toRelativeDayNum": (
        "(ts TIMESTAMP) RETURNS INT RETURN "
        "datediff(CAST(ts AS DATE), DATE'1970-01-01')"
    ),
    # toDateTime64(x, precision): Spark timestamps are fixed
    # microsecond precision — the precision argument is accepted for
    # syntax compatibility; sub-microsecond digits truncate.  Numeric
    # spellings (with optional fraction) are unix seconds, like
    # toDateTime's epoch branch.
    "toDateTime64": (
        "(x STRING, p INT) RETURNS TIMESTAMP RETURN "
        "CASE WHEN x RLIKE '^[0-9]+(\\\\.[0-9]+)?$' "
        "THEN timestamp_seconds(CAST(x AS DECIMAL(20,6))) "
        "ELSE CAST(x AS TIMESTAMP) END"
    ),
    # toBool: numeric spellings are CH-truthy (non-zero = true);
    # CH's extra word spellings (on/off/enable(d)/disable(d)) are
    # explicit — Spark's boolean cast doesn't know them and would
    # raise under ANSI (review r9c); the rest ride the cast
    # (true/false/t/f/yes/no/y/n/1/0, case-insensitive), which still
    # throws on garbage like CH does
    "toBool": (
        "(x STRING) RETURNS BOOLEAN RETURN "
        "CASE WHEN x RLIKE '^-?[0-9]+(\\\\.[0-9]+)?$' "
        "THEN CAST(x AS DOUBLE) <> 0 "
        "WHEN lower(x) IN ('on', 'enable', 'enabled') THEN true "
        "WHEN lower(x) IN ('off', 'disable', 'disabled') THEN false "
        "ELSE CAST(lower(x) AS BOOLEAN) END"
    ),
    "base64Decode": (
        "(x STRING) RETURNS STRING RETURN CAST(unbase64(x) AS STRING)"
    ),
    # CH JSONLength: element count of a JSON array or object, 0 for
    # scalars/invalid JSON, NULL propagates (r11i; size(NULL) is NULL
    # under the non-legacy default, so the coalesce ends at 0)
    "JSONLength": (
        "(x STRING) RETURNS BIGINT RETURN CASE WHEN x IS NULL THEN "
        "NULL ELSE coalesce(CAST(json_array_length(x) AS BIGINT), "
        "CAST(size(json_object_keys(x)) AS BIGINT), 0) END"
    ),
    # case-insensitive twin of countSubstrings — the body is INLINED
    # rather than calling the sibling shim (SQL UDF bodies resolve at
    # CREATE time and registration runs in dict order), and folds
    # ASCII ONLY via translate(): CH's non-UTF8 CaseInsensitive
    # functions don't fold Unicode (that's the UTF8 variant —
    # review r11i)
    "countSubstringsCaseInsensitive": (
        "(h STRING, n STRING) RETURNS INT RETURN "
        "CASE WHEN octet_length(n) = 0 THEN 0 "
        "ELSE CAST((octet_length(h) - octet_length(replace("
        "translate(h, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        "'abcdefghijklmnopqrstuvwxyz'), "
        "translate(n, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', "
        "'abcdefghijklmnopqrstuvwxyz'), ''))) "
        "DIV octet_length(n) AS INT) END"
    ),
    # CH tryBase64Decode returns '' (not NULL) on invalid input;
    # NULL propagates (r11f)
    "tryBase64Decode": (
        "(x STRING) RETURNS STRING RETURN CASE WHEN x IS NULL THEN "
        "NULL ELSE coalesce(CAST(try_to_binary(x, 'base64') AS "
        "STRING), '') END"
    ),
    "formatReadableQuantity": (
        "(x DOUBLE) RETURNS STRING RETURN "
        "CASE WHEN abs(x) >= 1e15 "
        "THEN concat(format_string('%.2f', x / 1e15), ' quadrillion') "
        "WHEN abs(x) >= 1e12 "
        "THEN concat(format_string('%.2f', x / 1e12), ' trillion') "
        "WHEN abs(x) >= 1e9 "
        "THEN concat(format_string('%.2f', x / 1e9), ' billion') "
        "WHEN abs(x) >= 1e6 "
        "THEN concat(format_string('%.2f', x / 1e6), ' million') "
        "WHEN abs(x) >= 1e3 "
        "THEN concat(format_string('%.2f', x / 1e3), ' thousand') "
        "ELSE format_string('%.2f', x) END"
    ),
})

# URL family: try_parse_url keeps hostile input crash-free (ANSI
# parse_url raises INVALID_URL); CH returns '' for missing parts, so
# every shim coalesces.  domain() works scheme-less via the regexp
# (parse_url requires a scheme); extractURLParameter('' on absent key)
# matches CH.  DEVIATION: path/queryString on scheme-less input give
# '' here (CH still parses them).
_SCALAR_SHIMS.update({
    "protocol": (
        "(u STRING) RETURNS STRING RETURN "
        "coalesce(try_parse_url(u, 'PROTOCOL'), '')"
    ),
    # userinfo may carry a ':' (user:password@) — its class must not
    # exclude colons or the username captures as the host (review r9c)
    "domain": (
        "(u STRING) RETURNS STRING RETURN "
        "regexp_extract(regexp_replace(u, "
        "'^[A-Za-z][A-Za-z0-9+.\\\\-]*://', ''), "
        "'^(?:[^/@?#]*@)?([^/:?#]+)', 1)"
    ),
    # r11g URL family: label arithmetic over domain().  CH contracts
    # (docs, URL functions): topLevelDomain = the last dot label ('',
    # if the host has no dot, is empty, or is an IPv4 literal — CH's
    # ExtractTopLevelDomain excludes numeric TLDs);
    # firstSignificantSubdomain = the second-level label UNLESS that
    # label is one of com/net/org/co/biz (then the third-level);
    # cutToFirstSignificantSubdomain = the suffix from it onward.
    # NULL input → NULL on all three (Nullable propagation, review
    # r11g); IP-literal hosts (digit-leading last label) → '' on all
    # three, same review.
    "topLevelDomain": (
        "(u STRING) RETURNS STRING RETURN "
        "CASE WHEN u IS NULL THEN NULL "
        "WHEN domain(u) LIKE '%.%' "
        "AND regexp_extract(domain(u), '([^.]+)$', 1) "
        "NOT RLIKE '^[0-9]' "
        "THEN regexp_extract(domain(u), '([^.]+)$', 1) ELSE '' END"
    ),
    "firstSignificantSubdomain": (
        "(u STRING) RETURNS STRING RETURN "
        "CASE WHEN u IS NULL THEN NULL "
        "WHEN domain(u) NOT LIKE '%.%' "
        "OR regexp_extract(domain(u), '([^.]+)$', 1) RLIKE '^[0-9]' "
        "THEN '' "
        "WHEN element_at(split(domain(u), '\\\\.'), -2) IN "
        "('com', 'net', 'org', 'co', 'biz') "
        "AND size(split(domain(u), '\\\\.')) >= 3 "
        "THEN element_at(split(domain(u), '\\\\.'), -3) "
        "ELSE element_at(split(domain(u), '\\\\.'), -2) END"
    ),
    "cutToFirstSignificantSubdomain": (
        "(u STRING) RETURNS STRING RETURN "
        "CASE WHEN u IS NULL THEN NULL "
        "WHEN domain(u) NOT LIKE '%.%' "
        "OR regexp_extract(domain(u), '([^.]+)$', 1) RLIKE '^[0-9]' "
        "THEN '' "
        "WHEN element_at(split(domain(u), '\\\\.'), -2) IN "
        "('com', 'net', 'org', 'co', 'biz') "
        "AND size(split(domain(u), '\\\\.')) >= 3 "
        "THEN concat_ws('.', slice(split(domain(u), '\\\\.'), "
        "size(split(domain(u), '\\\\.')) - 2, 3)) "
        "ELSE concat_ws('.', slice(split(domain(u), '\\\\.'), "
        "greatest(size(split(domain(u), '\\\\.')) - 1, 1), 2)) END"
    ),
    "domainWithoutWWW": (
        "(u STRING) RETURNS STRING RETURN "
        "regexp_replace(regexp_extract(regexp_replace(u, "
        "'^[A-Za-z][A-Za-z0-9+.\\\\-]*://', ''), "
        "'^(?:[^/@?#]*@)?([^/:?#]+)', 1), '^www\\\\.', '')"
    ),
    "path": (
        "(u STRING) RETURNS STRING RETURN "
        "coalesce(try_parse_url(u, 'PATH'), '')"
    ),
    # CH pathFull = path + query string + fragment (review r9c)
    "pathFull": (
        "(u STRING) RETURNS STRING RETURN "
        "concat(coalesce(try_parse_url(u, 'PATH'), ''), "
        "CASE WHEN try_parse_url(u, 'QUERY') IS NOT NULL "
        "THEN concat('?', try_parse_url(u, 'QUERY')) ELSE '' END, "
        "CASE WHEN try_parse_url(u, 'REF') IS NOT NULL "
        "THEN concat('#', try_parse_url(u, 'REF')) ELSE '' END)"
    ),
    "queryString": (
        "(u STRING) RETURNS STRING RETURN "
        "coalesce(try_parse_url(u, 'QUERY'), '')"
    ),
    "fragment": (
        "(u STRING) RETURNS STRING RETURN "
        "coalesce(try_parse_url(u, 'REF'), '')"
    ),
    # parse_url's key argument is a REGEX — escape every non-alnum
    # char so the CH contract (literal key match) holds and a
    # metachar key can't crash pattern compilation (review r9c)
    "extractURLParameter": (
        "(u STRING, p STRING) RETURNS STRING RETURN "
        "coalesce(try_parse_url(u, 'QUERY', "
        "regexp_replace(p, '([^a-zA-Z0-9])', '\\\\\\\\$1')), '')"
    ),
    # removes the query string (with its '?'), keeps the fragment —
    # CH has cutQueryStringAndFragment for the stripped-both form.
    # A '?' INSIDE the fragment is not a query string: CH scans for
    # the first of '?'/'#' and a leading '#' means no query
    "cutQueryString": (
        "(u STRING) RETURNS STRING RETURN "
        "CASE WHEN locate('?', u) = 0 "
        "OR (locate('#', u) > 0 AND locate('#', u) < locate('?', u)) "
        "THEN u "
        "ELSE concat(substr(u, 1, locate('?', u) - 1), "
        "CASE WHEN locate('#', u) > locate('?', u) "
        "THEN substr(u, locate('#', u)) ELSE '' END) END"
    ),
    "cutQueryStringAndFragment": (
        "(u STRING) RETURNS STRING RETURN "
        "substring_index(substring_index(u, '#', 1), '?', 1)"
    ),
})

# round-9d misc (probe pass 3): float classification, second/half-hour
# truncation, CH's time-of-day-on-1970-01-02 form, substring counting
_SCALAR_SHIMS.update({
    "isFinite": (
        "(x DOUBLE) RETURNS BOOLEAN RETURN "
        "NOT (isnan(x) OR abs(x) = double('Infinity'))"
    ),
    "isInfinite": (
        "(x DOUBLE) RETURNS BOOLEAN RETURN abs(x) = double('Infinity')"
    ),
    "ifNotFinite": (
        "(x DOUBLE, y DOUBLE) RETURNS DOUBLE RETURN "
        "CASE WHEN isnan(x) OR abs(x) = double('Infinity') "
        "THEN y ELSE x END"
    ),
    "toStartOfSecond": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN date_trunc('second', ts)"
    ),
    # CH toTime: same wall-clock time mapped onto 1970-01-02
    "toTime": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "make_timestamp(1970, 1, 2, hour(ts), minute(ts), second(ts))"
    ),
    # timeSlot: half-hour floor (CH rounds to 30-minute slots)
    "timeSlot": (
        "(ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
        "timestamp_seconds((CAST(unix_timestamp(ts) AS BIGINT) "
        "DIV 1800) * 1800)"
    ),
    # toDate32's numeric spelling is DAYS since epoch (signed, full
    # range — pre-1970 is its point), unlike toDate's seconds/compact
    # heuristics (review r9f)
    "toDate32": (
        "(x STRING) RETURNS DATE RETURN "
        "CASE WHEN x RLIKE '^-?[0-9]+$' "
        "THEN date_add(DATE'1970-01-01', CAST(x AS INT)) "
        "ELSE CAST(x AS DATE) END"
    ),
    "bitTest": (
        "(x BIGINT, n INT) RETURNS TINYINT RETURN "
        "CAST(shiftright(x, n) & 1 AS TINYINT)"
    ),
    "exp2": "(x DOUBLE) RETURNS DOUBLE RETURN power(2, x)",
    "exp10": "(x DOUBLE) RETURNS DOUBLE RETURN power(10, x)",
    "intExp2": "(x INT) RETURNS BIGINT RETURN shiftleft(CAST(1 AS BIGINT), x)",
    # clamp computes in DOUBLE (same deviation as the array
    # arithmetic family; integers exact through 2^53)
    "clamp": (
        "(x DOUBLE, lo DOUBLE, hi DOUBLE) RETURNS DOUBLE RETURN "
        "greatest(lo, least(x, hi))"
    ),
    "toUnixTimestamp64Milli": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_millis(ts)"
    ),
    "toUnixTimestamp64Micro": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_micros(ts)"
    ),
    # Spark timestamps are micros — the Nano form is micros * 1000
    # (sub-microsecond digits do not exist to report)
    "toUnixTimestamp64Nano": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN unix_micros(ts) * 1000"
    ),
    "fromUnixTimestamp64Milli": (
        "(n BIGINT) RETURNS TIMESTAMP RETURN timestamp_millis(n)"
    ),
    "fromUnixTimestamp64Micro": (
        "(n BIGINT) RETURNS TIMESTAMP RETURN timestamp_micros(n)"
    ),
    "toYYYYMMDDhhmmss": (
        "(ts TIMESTAMP) RETURNS BIGINT RETURN "
        "CAST(date_format(ts, 'yyyyMMddHHmmss') AS BIGINT)"
    ),
    # non-overlapping occurrence count (the replace trick removes
    # occurrences greedily left-to-right, exactly CH's scan).  Empty
    # needle returns 0 here — CH's empty-needle behavior is
    # undocumented and version-dependent; pinned locally, UNVERIFIED
    # against a live server (review r9d)
    "countSubstrings": (
        "(h STRING, n STRING) RETURNS INT RETURN "
        "CASE WHEN octet_length(n) = 0 THEN 0 "
        "ELSE CAST((octet_length(h) - octet_length(replace(h, n, ''))) "
        "DIV octet_length(n) AS INT) END"
    ),
})


#: session-conf marker so run_ch_sql doesn't pay ~110 CREATE FUNCTION
#: py4j round-trips PER QUERY (measured +1-2 s on every dialect-bridge
#: catalog entry once the shim count doubled in round 9); the token is
#: a checksum of the shim bodies so editing a shim re-registers.  The
#: session timezone is folded in too: Spark resolves a SQL UDF body
#: with the configs captured at CREATE time, so a tz change makes the
#: already-registered calendar shims (date_trunc et al.) truncate in
#: the OLD zone — re-register whenever the zone moved.
_SHIMS_MARKER = "spark.tce.ch_shims"


#: shim → shims its BODY calls, and every shim in dependency-first
#: order (both computed once): lazy registration must pull in a needed
#: shim's whole dependency closure AND create each dependency before
#: its callers — Spark resolves a SQL function body at CREATE time, so
#: `JSONExtractInt` created before `ch_json_v_int` fails.
_SHIM_DEPS: dict[str, frozenset] = {}
_SHIM_ORDER: list[str] = []
#: serializes the shim marker's read → register → write: two threads
#: registering on one session would otherwise each write back their
#: own view of the registered set and lose the other's names
_SHIMS_LOCK = threading.Lock()


def _shim_graph() -> None:
    """Fill :data:`_SHIM_DEPS` and :data:`_SHIM_ORDER` (caller holds
    :data:`_SHIMS_LOCK`)."""
    if _SHIM_ORDER:
        return
    low = {n.lower(): n for n in _SCALAR_SHIMS}
    for n, b in _SCALAR_SHIMS.items():
        _SHIM_DEPS[n] = frozenset(
            low[m.group(1).lower()]
            for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", b)
            if m.group(1).lower() in low and low[m.group(1).lower()] != n
        )
    done: set = set()

    def visit(n: str) -> None:
        if n not in done:
            done.add(n)
            for d in sorted(_SHIM_DEPS[n]):
                visit(d)
            _SHIM_ORDER.append(n)

    for n in _SCALAR_SHIMS:
        visit(n)


def _shim_closure(names) -> set:
    out: set = set()
    stack = list(names)
    while stack:
        n = stack.pop()
        if n in out:
            continue
        out.add(n)
        stack.extend(_SHIM_DEPS[n])
    return out


def register_ch_functions(spark: SparkSession, needed=None) -> None:
    """Idempotently register the scalar CH shims as SQL UDFs (no-op
    when this session already holds them, registered under the current
    session timezone).

    ``needed=None`` registers the FULL shim set (the public API tests
    and ad-hoc sessions use).  ``needed=<iterable of names>`` registers
    only those shims (plus their body-dependency closure) that are not
    yet registered — ``run_ch_sql`` passes the function names that
    actually appear in the statement it is about to run, because the
    full set is ~150 ``CREATE TEMPORARY FUNCTION`` py4j round-trips
    (~5 s measured on a fresh session, the r16 "first-build analyzer
    cost"; a typical statement needs 0-3 shims).  Already-registered
    names are tracked in the session conf next to the set+timezone
    token, so a timezone switch still refreshes every shim it had
    registered (the calendar shims truncate in the zone they were
    created under).

    Requires ``spark.sql.ansi.enabled=true`` (Spark 4's default): the
    dialect's documented error semantics (accurateCast range errors,
    CAST-on-garbage throwing like CH, nested Array integer casts
    range-checking) are ANSI behaviors — on a legacy-mode session
    they would silently wrap/null instead, the module's worst
    category.  Raising beats silently mutating the caller's session
    (the pin would change the semantics of every NON-dialect query
    the host runs afterwards; review r9e)."""
    import zlib

    if spark.conf.get("spark.sql.ansi.enabled", "true").lower() != "true":
        raise UnsupportedChSql(
            "the ClickHouse dialect requires spark.sql.ansi.enabled=true "
            "(its documented error semantics are ANSI behaviors; a "
            "legacy-mode session would silently wrap/null instead) — "
            "set it on this session before run_ch_sql"
        )
    try:
        # no-default get returns the EFFECTIVE zone (JVM default
        # included) — passing '' as a fallback trips Spark 4's
        # fallback-value validation on sessions where the key was
        # never set (r11l)
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:
        tz = ""
    token = format(
        zlib.crc32(
            ("\x00".join(n + b for n, b in sorted(_SCALAR_SHIMS.items()))
             + "\x00tz=" + (tz or ""))
            .encode()
        ),
        "x",
    )
    with _SHIMS_LOCK:
        _shim_graph()
        _register_shims_locked(spark, needed, token)


def _register_shims_locked(spark: SparkSession, needed, token: str) -> None:
    try:
        cur = spark.conf.get(_SHIMS_MARKER)
    except Exception:
        cur = None
    if cur is not None and cur.split(":", 1)[0] != token:
        cur = None  # shim set or timezone changed: nothing is current
    have: set = (
        set(_SCALAR_SHIMS) if cur == token
        else set(cur.split(":", 1)[1].split(",")) - {""} if cur
        else set()
    )
    if needed is None:
        todo = [n for n in _SHIM_ORDER if n not in have]
        have = set(_SCALAR_SHIMS)
    else:
        # Spark resolves function names case-insensitively; match the
        # statement's spelling to the canonical shim names the same way
        low = {n.lower(): n for n in _SCALAR_SHIMS}
        want = _shim_closure(
            low[str(n).lower()] for n in needed if str(n).lower() in low
        )
        todo = [n for n in _SHIM_ORDER if n in want and n not in have]
        have |= want
    if not todo:
        if cur is None:
            spark.conf.set(_SHIMS_MARKER, token + ":")
        return
    for name in todo:
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name} "
            f"{_SCALAR_SHIMS[name]}"
        )
    spark.conf.set(
        _SHIMS_MARKER,
        token if have == set(_SCALAR_SHIMS)
        else token + ":" + ",".join(sorted(have)),
    )


class UnsupportedChSql(ValueError):
    """A CH construct this subset deliberately refuses to guess at."""


class TopkFallbackWarning(UserWarning):
    """The ``topK``/``topKWeighted`` pre-aggregation rewrite declined a
    block shape and the translator kept the ``collect_list``-based
    expression expansion.  The fallback produces the SAME values but
    holds O(n)-sized aggregation state (one list entry per input row)
    instead of the rewrite's d-sized (distinct values) state — measured
    95× slower ungrouped at 10M rows and OOM-shaped beyond (SCALE.md,
    round 8).  Fine at Grafana-panel granularity; a hazard on a large
    ungrouped scan.  Pass ``strict_scale=True`` to
    :func:`run_ch_sql`/:func:`translate_ch_sql` to raise
    :class:`UnsupportedChSql` instead of warning."""


class IlsFoldWarning(UserWarning):
    """The ``intervalLengthSum`` window rewrite declined a block shape
    and the translator kept the sorted-fold expression expansion.  The
    fallback produces the SAME values but collects O(intervals per
    group) structs in one aggregation task — memory-bound BY
    CONSTRUCTION on multi-million-interval groups (SCALE.md round 11:
    the 9M-interval hot group completes but the stateless window
    spelling is both faster, 4.69 s vs 5.99 s, and carries no
    per-group state).  Fine at Grafana-panel granularity."""


class MaxIntersectionsFoldWarning(UserWarning):
    """The ``maxIntersections(/Position)`` window rewrite declined a
    block shape and the translator kept the sorted-fold expression
    expansion — same values, but the fold collects a group's whole
    (position, ±1) event array into ONE aggregation task (r14: the
    ev31 shape measured 7 s fold vs 0.9 s window at sf0.1 over 3
    board-sized groups)."""


#: simple renames: same arity/arg order, different name.
_RENAMES = {
    "uniq": "approx_count_distinct",
    "uniqCombined": "approx_count_distinct",
    "uniqHLL12": "approx_count_distinct",
    # theta sketches add set-ops CH-side; as a plain aggregate it is
    # one more approximate-distinct — same mapping as uniq/HLL12
    "uniqTheta": "approx_count_distinct",
    # (countIf is structural — CH also has the 2-arg (x, cond) form;
    # see _rewrite_calls)
    # CH timestampAdd/timestamp_add(unit, n, ts) == Spark timestampadd
    "timestamp_add": "timestampadd",
    "timestampAdd": "timestampadd",
    # NOT mapped: bare `any(…)` — ANSI quantified comparisons
    # (`> ANY (SELECT …)`) use the same spelling; CH users should
    # write any_value directly.
    "anyLast": "any_value",
    # CH argMax/argMin(ret, by) == Spark max_by/min_by (same arg order)
    "argMax": "max_by",
    "argMin": "min_by",
    # CH arrayJoin expands rows; Spark's explode is the generator
    # equivalent.  Valid only where Spark allows a generator (top-level
    # SELECT item / LATERAL VIEW) — elsewhere Spark raises its own
    # analysis error rather than us mistranslating silently.
    "arrayJoin": "explode",
    # array/scalar everyday functions (same arity + arg order)
    "has": "array_contains",
    # (indexOf is structural: CH finds NULL elements — "NULL is
    # handled as a normal value" — where array_position is
    # null-strict; see _rewrite_calls)
    "arrayElement": "element_at",
    "arrayStringConcat": "array_join",
    "arrayDistinct": "array_distinct",
    "arrayConcat": "concat",
    "ifNull": "ifnull",
    "lcase": "lower",
    "ucase": "upper",
    # round-8 everyday surface (same arity + arg order on both engines)
    "arrayReverse": "reverse",
    "arraySlice": "slice",
    # NOT mapped: arrayFlatten — CH flattens ALL nesting depths, Spark
    # flatten removes exactly one level; left unmapped (loud
    # unresolved-function error) rather than silently wrong at depth 3+
    "trimLeft": "ltrim",
    "trimRight": "rtrim",
    "trimBoth": "trim",
    # UTF8 string spellings: Spark strings are UTF-8 and its builtins
    # count CODEPOINTS — exactly the CH *UTF8 contracts (r11a)
    "reverseUTF8": "reverse",
    "leftPadUTF8": "lpad",
    "rightPadUTF8": "rpad",
    # (max2/min2/concatWithSeparator/greatest/least/concat_ws are
    # structural — CH propagates NULL where Spark's greatest/least/
    # concat_ws SKIP null arguments (ADVICE r10); see _rewrite_calls.
    # rand/rand64/randCanonical are structural too: CH rand() is a
    # uniform UInt32 draw, bridged exactly.)
    # round-10g map surface (same arity + arg order + values)
    "mapContains": "map_contains_key",
    "mapFromArrays": "map_from_arrays",
    "startsWith": "startswith",
    "endsWith": "endswith",
    # the UTF8 spellings are the same codepoint semantics here (r11i)
    "startsWithUTF8": "startswith",
    "endsWithUTF8": "endswith",
    # CH's UTF8 edit-distance spellings == Spark levenshtein exactly
    # (codepoint unit-cost).  The BYTE spellings (editDistance/
    # levenshteinDistance) are byte-exact too (r12c): ASCII rides
    # Spark's codegen levenshtein, multi-byte dispatches to the
    # ch_levenshtein_bytes Wagner-Fischer fold (a codepoint answer
    # would be a SILENT integer diff — editDistance('привет','x')
    # is 12 in CH, 6 in codepoints; review r11j).
    "editDistanceUTF8": "levenshtein",
    "levenshteinDistanceUTF8": "levenshtein",
    # (JSONExtractKeys is structural: CH answers [] for invalid JSON
    # or a non-object where json_object_keys answers NULL, and the
    # variadic indices_or_keys walk raises by name — see
    # _rewrite_calls, review r11i)
    "substringUTF8": "substring",
    "lengthUTF8": "length",      # both count CODEPOINTS (bare CH
                                 # length counts BYTES — rewritten to
                                 # octet_length in _rewrite_calls)
    "lowerUTF8": "lower",        # Spark lower/upper are UTF8-aware
    "upperUTF8": "upper",
    # bit-shift family (same arity/arg order); bitAnd/Or/Xor/Not are
    # operator spellings — see the shims
    "bitShiftLeft": "shiftleft",
    "bitShiftRight": "shiftright",
    "bitCount": "bit_count",
    # introspection: VALUES are intentionally engine-native (Spark
    # type spellings — 'bigint', not 'Int64'); the function exists so
    # pasted debug queries run, not to emulate CH's type names
    "toTypeName": "typeof",
    # (tuple maps to named_struct in _rewrite_calls — explicit colN
    # field names so tupleElement's positional access always resolves)
    "now": "current_timestamp",
    # statistics family: CH camelCase → Spark snake_case, identical
    # population/sample semantics
    "stddevPop": "stddev_pop",
    "stddevSamp": "stddev_samp",
    "varPop": "var_pop",
    "varSamp": "var_samp",
    "covarPop": "covar_pop",
    "covarSamp": "covar_samp",
    # Spark median() interpolates on even counts where CH medianExact
    # is nearest-rank — the SAME documented honest-analogue deviation
    # as the quantileExact → percentile mapping above (both return the
    # 0.5 quantile under their engine's exact-quantile definition)
    "medianExact": "median",
    # round-9 everyday surface (same arity + arg order + values)
    "dateTrunc": "date_trunc",          # (unit, ts) both engines
    "roundBankers": "bround",           # banker's rounding exactly
    "generateUUIDv4": "uuid",
    "base64Encode": "base64",
    # (arrayZip is structural: arrays_zip's struct field names vary
    # with the argument shape ('0','1' for expressions, source column
    # names for plain columns), which breaks tupleElement's positional
    # .colN access — _rewrite_calls rebuilds colN-named structs)
    # round-9d batch (probe pass 3)
    "mapKeys": "map_keys",
    "mapValues": "map_values",
    "countMatches": "regexp_count",   # both: non-overlapping matches
    "concatAssumeInjective": "concat",  # CH perf hint, same value
    # (makeDate is structural: CH also has the 2-arg (year,
    # day_of_year) form — see _rewrite_calls)
    "makeDateTime": "make_timestamp",
    # anyHeavy is CH's approximate heavy-hitter pick; mode() is the
    # exact most-frequent value — honest analogue (CH's own result is
    # explicitly nondeterministic)
    "anyHeavy": "mode",
    "uniqCombined64": "approx_count_distinct",
    "currentDatabase": "current_database",
    # nowInBlock differs from now() only per-block inside long
    # INSERT SELECTs; per-query constant is the Spark evaluation
    "nowInBlock": "current_timestamp",
    # CH *Stable statistics are numerically-stable variants of the
    # same estimator — identical value contract
    "corrStable": "corr",
    "covarPopStable": "covar_pop",
    "covarSampStable": "covar_samp",
    "stddevPopStable": "stddev_pop",
    "stddevSampStable": "stddev_samp",
    "varPopStable": "var_pop",
    "varSampStable": "var_samp",
    # bitwise aggregates: exact Spark twins
    "groupBitAnd": "bit_and",
    "groupBitOr": "bit_or",
    "groupBitXor": "bit_xor",
    # (-Distinct combinator is structural: sum_distinct/count_distinct
    # are DataFrame-API-only names — see _rewrite_calls)
    # (hasAny/hasAll are structural: CH treats NULL elements as
    # normal values, which needs <=> — arrays_overlap returns NULL
    # on null-bearing inputs; see _rewrite_calls)
    # (toDate32 is a dedicated shim: CH reads ITS numeric argument as
    # DAYS since epoch across the full signed range — inheriting
    # toDate's seconds-above-65535 heuristic would be a silent diff)
    # Spark skewness is the population form (m3/m2^1.5) — exactly
    # CH's skewPop.  kurtPop is NOT a rename: Spark kurtosis is
    # EXCESS kurtosis (m4/m2^2 - 3) where CH is Pearson (m4/m2^2) —
    # off by exactly 3 (verified numerically; review r9e) — so it is
    # a structural +3 rewrite.  The Samp forms differ (bias
    # corrections) and stay loud.
    "skewPop": "skewness",
}

#: `aggIf(x, cond)` → `agg(CASE WHEN cond THEN x END)` — CH's -If
#: combinator over the aggregates whose Spark twins skip NULLs (which
#: is exactly what the CASE produces for non-matching rows)
_IF_AGGS = {"sumIf": "sum", "avgIf": "avg", "minIf": "min", "maxIf": "max",
            "uniqIf": "approx_count_distinct",
            "anyIf": "any_value", "anyLastIf": "any_value",
            "groupArrayIf": "collect_list",
            "groupUniqArrayIf": "collect_set",
            "medianIf": "median", "medianExactIf": "median"}

#: parameterized aggregates `name(q…)(args)` mapped to a Spark
#: percentile family member.  quantileTiming/TDigest are CH's
#: approximate sketches — percentile_approx is the honest analogue
#: (both are rank-approximate; neither promises bit equality).
_PARAMETERIZED = {
    "quantile": "percentile",
    "quantileExact": "percentile",
    # Low/High pick the lower/upper nearest-rank element; percentile
    # interpolates — the same honest-analogue deviation as
    # quantileExact/medianExact (documented)
    "quantileExactLow": "percentile",
    "quantileExactHigh": "percentile",
    "quantileDeterministic": "percentile",
    "quantileTiming": "percentile_approx",
    "quantileTDigest": "percentile_approx",
}

#: plural forms `quantiles(q1, q2…)(x)` → one array-percentile call.
_PARAMETERIZED_PLURAL = {
    "quantiles": "percentile",
    "quantilesExact": "percentile",
    "quantilesDeterministic": "percentile",
    "quantilesTiming": "percentile_approx",
    "quantilesTDigest": "percentile_approx",
}

#: recognized-but-unsupported: raise instead of mistranslating.
#: (weighted/sketch-state variants whose semantics have no faithful
#: single-expression Spark mapping in this subset)
#: order-dependent / state-machine aggregates with no faithful SQL
#: mapping: raise with a pointer instead of mistranslating.  running*/
#: neighbor depend on CH block processing order (CH's own docs call
#: them deprecated in favor of window functions — which Spark SQL has
#: natively: use lag/lead/sum OVER).  *Map aggregates merge maps
#: key-wise: express as explode → GROUP BY key → map_from_entries.
_UNSUPPORTED = {"groupArrayMovingAvg", "groupArrayMovingSum",
                "runningDifference", "runningAccumulate", "neighbor",
                "deltaSum", "deltaSumTimestamp",
                "sumMap", "minMap", "maxMap", "avgMap"}

#: recognized-but-unsupported with a SPECIFIC raise message.  The CH
#: non-cryptographic hash family cannot map to Spark builtins without
#: a silent value difference (Spark's xxhash64 is XXH64 with seed 42,
#: CH's xxHash64 is seed 0; cityHash64/sipHash64/murmurHash* have no
#: Spark implementation at all) — and hash values feed sampling/
#: sharding predicates where a silently different value silently
#: changes WHICH ROWS a query selects.  Raising names the engine-
#: native escape hatch instead.
_HASH_RAISE = (
    "() is ClickHouse-native hashing with no value-exact Spark "
    "mapping (Spark's xxhash64 uses seed 42, CH uses seed 0) — for "
    "engine-native bucketing/sampling spell xxhash64() or hash() "
    "directly and keep both sides of any comparison on one engine"
)
_UNSUPPORTED_MSG = {
    **{name: name + _HASH_RAISE for name in (
        "xxHash64", "xxHash32", "cityHash64", "sipHash64", "sipHash128",
        "farmHash64", "farmFingerprint64", "halfMD5", "intHash32",
        "intHash64", "metroHash64", "wyHash64", "javaHash", "hiveHash",
        "murmurHash2_32", "murmurHash2_64", "murmurHash3_32",
        "murmurHash3_64", "murmurHash3_128",
    )},
    "toTimeZone": (
        "toTimeZone() has no faithful mapping: Spark timestamps are "
        "zone-less instants rendered in the session timezone "
        "(spark.sql.session.timeZone) — set the session zone, or use "
        "from_utc_timestamp/to_utc_timestamp for explicit shifts"
    ),
    "randConstant": (
        "randConstant() is block-constant randomness with no Spark "
        "equivalent — use rand() per row or a literal seed"
    ),
    "bin": (
        "CH bin() pads integers to the SOURCE TYPE's width (bin(10) "
        "over UInt8 is '00001010'), which Spark's BIGINT-only bin "
        "cannot know (it answers '1010') — use Spark bin() for "
        "minimal-width or lpad(bin(x), bytes*8, '0') with an explicit "
        "width (collision sweep r11a)"
    ),
    "dictGet": (
        "dictGet(): external dictionaries don't exist here — JOIN the "
        "dimension table (broadcast joins give the same lookup plan)"
    ),
    "dictGetOrDefault": (
        "dictGetOrDefault(): external dictionaries don't exist here — "
        "LEFT JOIN the dimension table + coalesce(default)"
    ),
    "toWeek": (
        "toWeek()/toYearWeek() default to CH mode 0 (Sunday-start, "
        "week 0 exists) which Spark's ISO weekofyear cannot spell — "
        "use toISOWeek() for ISO week numbering"
    ),
    "toYearWeek": (
        "toWeek()/toYearWeek() default to CH mode 0 (Sunday-start, "
        "week 0 exists) which Spark's ISO weekofyear cannot spell — "
        "use toISOWeek() for ISO week numbering"
    ),
    "hasSubstr": (
        "hasSubstr() (contiguous subsequence test) has no faithful "
        "single-expression mapping — use hasAll() for set containment "
        "or an explode + window match"
    ),
    "entropy": (
        "entropy() needs a two-level aggregation here — GROUP BY the "
        "value to get counts, then -sum(p * log2(p)) over them"
    ),
    "uniqArray": (
        "uniqArray() counts distinct elements ACROSS rows — explode "
        "the array (ARRAY JOIN) and uniqExact the elements, or "
        "size(array_distinct(flatten(groupArrayArray(a)))) if the "
        "collected size is bounded"
    ),
    "bar": (
        "bar() is a CLI rendering helper (fractional Unicode blocks) "
        "— spell repeat('█', CAST(round(width * (x - mn) / (mx - mn)) "
        "AS INT)) for a plain-block band"
    ),
    "sleep": (
        "sleep() is a CH load-testing hook that blocks the executing "
        "thread per block — meaningless under Spark's execution model"
    ),
    "sleepEachRow": (
        "sleepEachRow() is a CH load-testing hook — meaningless under "
        "Spark's execution model"
    ),
    "COLUMNS": (
        "COLUMNS('regex') needs the table's column list — run_ch_sql "
        "resolves it from the session catalog when the FROM is a "
        "plain registered table/view (r11b); for joins/subqueries/"
        "table functions spell the columns, or use "
        "df.select([c for c in df.columns if re.search(...)])"
    ),
    "untuple": (
        "untuple(t) expands to one output column per tuple field — "
        "spell t.* (Spark's struct expansion) or tupleElement(t, N) "
        "per field"
    ),
    # r11k: named raises with pointers for the remaining statistical /
    # time-series aggregates a migrating user could plausibly hit
    # (previously raw unresolved-function louds)
    "mannWhitneyUTest": (
        "mannWhitneyUTest() needs a rank pass + a normal-CDF p-value "
        "— rank() OVER the pooled sample gives U; look p up "
        "client-side"
    ),
    "exponentialTimeDecayedAvg": (
        "exponentialTimeDecayedAvg(): see exponentialMovingAverage — "
        "spell the decay explicitly over an ordered window"
    ),
    "exponentialTimeDecayedSum": (
        "exponentialTimeDecayedSum(): see exponentialMovingAverage — "
        "the closed form sum(v * exp((t - t_row) / x)) overflows for "
        "epoch-scale timestamps; spell the decay over an ordered "
        "window anchored at the row's own time"
    ),
    "exponentialTimeDecayedMax": (
        "exponentialTimeDecayedMax(): see exponentialMovingAverage — "
        "spell max(v * exp(-(t_row - t) / x)) over an ordered window"
    ),
    "exponentialTimeDecayedCount": (
        "exponentialTimeDecayedCount(): see exponentialMovingAverage "
        "— spell sum(exp(-(t_row - t) / x)) over an ordered window"
    ),
    "nonNegativeDerivative": (
        "nonNegativeDerivative(v, t[, interval]) is a window "
        "function over consecutive rows — spell greatest(0, "
        "(v - lagInFrame(v, 1) OVER w) / (t - lagInFrame(t, 1) "
        "OVER w)) with your frame; lagInFrame is bridged"
    ),
    "sparkbar": (
        "sparkbar() is a CLI rendering helper — bucket with "
        "width_bucket() + repeat('█', n) like bar()"
    ),
}

#: CH's -State / -Merge / -SimpleState combinators carry partial
#: aggregation sketches between tables (AggregatingMergeTree).  The
#: engine's equivalent is operators/aggregating.py (op07): persisted
#: per-batch partials re-merged on read.  Raise with that pointer.
#: The prefix list covers every aggregate family this module maps
#: (incl. -If stacking, anyLast/median/groupUniqArray — review r9e).
_STATE_COMBINATOR_RX = (
    r"^(sum|count|avg|min|max|any|anyLast|anyHeavy|uniq\w*?|"
    r"quantile\w*?|median\w*?|groupArray|groupUniqArray|groupBit\w*?|"
    r"argMax|argMin|topK\w*?|corr\w*?|covar\w*?|stddev\w*?|var\w*?|"
    r"skew\w*?|kurt\w*?|avgWeighted|histogram|entropy|windowFunnel|"
    r"retention|sequence\w*?)"
    r"(If)?(State|Merge|MergeState|SimpleState)$")


# ---- the quote-and-bracket scanner ------------------------------------
# Every pass reads SQL text through these helpers; see "Scanning
# contract" in the module docstring.

_QUOTE_RX = re.compile("['`]")
_FORWARD_RX = {"(": re.compile(r"[()'`]"), "[": re.compile(r"[\[\]'`]")}
_SPLIT_RX = re.compile(r"[(),'`]")
_OPEN_RX = re.compile(r"[('`]")
_PARTNER = {"(": ")", "[": "]", ")": "(", "]": "["}


def _find_partner(text: str, i: int) -> int:
    """Index of the partner of ``text[i]``: the closing quote of a
    ``'…'`` literal (``''`` doubling stays inside) or a backtick-quoted
    identifier, the matching ``)``/``]`` of an opening bracket
    (scanning forward), or the matching ``(``/``[`` of a closing one
    (scanning backward).  Only brackets of ``text[i]``'s own kind
    count, and quoted spans are skipped whole.  -1 when there is no
    partner (unbalanced brackets, unterminated quote)."""
    c = text[i]
    if c in "'`":
        j = text.find(c, i + 1)
        while c == "'" and j >= 0 and text.startswith("''", j):
            j = text.find(c, j + 2)
        return j
    depth = 0
    if c in "([":
        rx = _FORWARD_RX[c]
        m = rx.search(text, i)
        while m is not None:
            j = m.start()
            if text[j] in "'`":
                j = _find_partner(text, j)
                if j < 0:
                    return -1
            elif text[j] == c:
                depth += 1
            else:
                depth -= 1
                if depth == 0:
                    return j
            m = rx.search(text, j + 1)
        return -1
    j = i
    while j >= 0:
        d = text[j]
        if d in "'`":  # a closing quote: back to its opening one
            j = text.rfind(d, 0, j)
            while d == "'" and j > 0 and text[j - 1] == "'":
                j = text.rfind(d, 0, j - 1)
            if j < 0:
                return -1
        elif d == c:
            depth += 1
        elif d == _PARTNER[c]:
            depth -= 1
            if depth == 0:
                return j
        j -= 1
    return -1


def _find_close(sql: str, open_idx: int) -> int:
    """:func:`_find_partner` of the ``(`` at ``open_idx``, raising
    when it is unbalanced."""
    close = _find_partner(sql, open_idx)
    if close < 0:
        raise UnsupportedChSql("unbalanced parentheses in SQL text")
    return close


def _split_args(args: str) -> list[str]:
    """Split a call's argument text on TOP-LEVEL commas (outside
    parentheses and quoted spans); each part is stripped.  A stray
    ``)`` or an unbalanced span ends the splitting."""
    out, last = [], 0
    m = _SPLIT_RX.search(args)
    while m is not None:
        i = m.start()
        if args[i] == ",":
            out.append(args[last:i].strip())
            last = i + 1
        elif args[i] == ")":
            break
        else:
            i = _find_partner(args, i)
            if i < 0:
                break
        m = _SPLIT_RX.search(args, i + 1)
    out.append(args[last:].strip())
    return out


def _blank_spans(text: str, quote: str) -> str:
    """``text`` with the CONTENT of every ``quote``-delimited span
    blanked (same length; an unterminated span blanks to the end)."""
    out, last = [], 0
    m = _QUOTE_RX.search(text)
    while m is not None:
        i = m.start()
        j = _find_partner(text, i)
        end = len(text) if j < 0 else j
        if text[i] == quote:
            out += [text[last: i + 1], " " * (end - i - 1)]
            last = end
        if j < 0:
            break
        m = _QUOTE_RX.search(text, j + 1)
    out.append(text[last:])
    return "".join(out)


def _mask_literals(sql: str) -> str:
    """Same-length shadow of ``sql`` with single-quoted literal CONTENT
    blanked, so regex scans see quotes but never literal text."""
    return _blank_spans(sql, "'")


def _mask_idents(sh: str) -> str:
    """Blank backtick-quoted identifier CONTENT as well, on an
    already-literal-masked shadow, for scanners whose trigger chars
    (``?``, ``:``, ``.N``, brackets, keywords) may legally appear
    inside quoted names."""
    return _blank_spans(sh, "`")


def _sub_masked(rx: "str | re.Pattern[str]",
                repl: "str | Callable[[re.Match], str]", sql: str) -> str:
    """``rx.sub(repl, sql)`` applied only at match positions OUTSIDE
    single-quoted literals: matches are found on the
    :func:`_mask_literals` shadow and spliced into the original.
    ``repl`` is a plain string (no group backreferences — group text
    would come from the mask) or a function of the shadow's match
    returning the replacement; it reads original text through the
    match's spans (``sql[m.start(1): m.end(1)]``), and the shadow as
    ``m.string``."""
    sh = _mask_literals(sql)
    out, last = [], 0
    for m in re.finditer(rx, sh):
        out.append(sql[last: m.start()])
        out.append(repl if isinstance(repl, str) else repl(m))
        last = m.end()
    out.append(sql[last:])
    return "".join(out)


def translate_ch_sql(
    sql: str,
    table_map: Mapping[str, str] | None = None,
    strict_scale: bool = False,
) -> str:
    """Rewrite the CH-dialect constructs described in the module
    docstring into Spark SQL.  Pure text-to-text; unknown functions
    pass through (the scalar shims handle them at run time).
    ``strict_scale`` turns the topK-fallback warning (n-sized
    aggregation state — see :class:`TopkFallbackWarning`) into an
    :class:`UnsupportedChSql` raise.

    ``table_map`` maps CH table names (``db.table``) to Spark
    view/table names — every quoting variant (``"db"."t"``,
    ``db."t"``, bare ``t`` as a qualifier prefix) is replaced.

    Beyond function rewrites, five grammar bridges cover the CH-isms
    the reference's panels (GDJ rawSql) and everyday CH queries use:

    - ``IN [a, b]`` array syntax → ``IN (a, b)``;
    - double-quoted identifiers/aliases → backticks;
    - ``FROM t FINAL`` → ``FROM t`` (the views dedup on read);
    - SELECT-list aliases referenced from WHERE/HAVING of the same
      query block (legal in CH, not in Spark) are inlined as their
      defining expression;
    - ``ORDER BY … LIMIT [k,] n BY cols`` (top-n rows per group) →
      a ``row_number`` wrapper (top level of the statement; requires
      the ORDER BY — see :func:`_limit_by`);
    - ``PREWHERE`` merges into WHERE (Catalyst does its own pushdown);
      trailing ``SETTINGS`` / ``FORMAT`` execution hints drop;
    - ``[LEFT] ARRAY JOIN arr [AS x]`` → ``LATERAL VIEW [OUTER]
      explode`` (bare form emulates CH's column shadowing for a
      simple-table FROM); ``GLOBAL IN/JOIN`` hints strip; ``ASOF
      JOIN`` raises with a pointer to ``operators/asof``."""
    sql = _normalize_escapes(sql)
    sql = _apply_table_map(sql, dict(table_map or {}))
    sql = _brackets_to_parens(sql)
    sql = _dquotes_to_backticks(sql)
    sql = _bracket_expressions(sql)  # after dquotes: `q ident`[1] bases
    # bare and ALL INTERSECT / EXCEPT set operators: ClickHouse KEEPS
    # the left side's duplicate rows (a semi/anti membership filter —
    # "the result can contain duplicate rows", and a row present
    # anywhere in the right side removes ALL its left copies).  That
    # is neither Spark's bare form (deduplicates) nor Spark's ALL
    # form (BAG subtraction: left [1,1] EXCEPT ALL right [1] keeps
    # one 1 in Spark, none in CH — review r11f), so BOTH spellings
    # raise by name; only the explicit DISTINCT spellings are
    # value-equal on the two engines and pass through.
    # CH expression spellings Spark's parser rejects: postfix ``::``
    # casts (CH type names ride the CAST mapping), ``(tuple).N``
    # element access, and the C-style ternary — in that order, so the
    # ternary scan never sees a cast colon (r12m)
    sql = _cast_colons(sql)
    sql = _tuple_index_access(sql)
    sql = _ternary_operator(sql)
    # PASTE JOIN would silently parse as `alias PASTE` + comma-less
    # JOIN (a cartesian product where CH pairs rows POSITIONALLY) —
    # and the pairing is block-order-dependent anyway (r12m probe)
    if re.search(r"(?i)\bPASTE\s+JOIN\b", _mask_literals(sql)):
        raise UnsupportedChSql(
            "PASTE JOIN pairs rows by their position in the stream — "
            "order-undefined on a parallel source; zip explicitly: "
            "join on row_number() OVER (ORDER BY <key>) from both "
            "sides")
    # T-SQL style SELECT TOP n [WITH TIES] (CH parses it) → LIMIT
    sql = _recurse_select_blocks(sql, _select_top)
    # `* EXCEPT col` single-column parenless form → `* EXCEPT (col)`
    # (keyword guard keeps the EXCEPT set operator out of the match)
    sql = _sub_masked(
        r"(?i)(\*\s+EXCEPT)\s+(?!SELECT\b|ALL\b|DISTINCT\b|"
        r"STRICT\b|\()(`[^`]*`|[A-Za-z_][\w$]*)",
        lambda m: f"{m.group(1)} ({m.group(2)})", sql)
    sh_so = _mask_literals(sql)
    for m in re.finditer(r"(?i)\b(INTERSECT|EXCEPT)\b(\s+ALL\b)?"
                         r"(?!\s+DISTINCT\b)\s*(\(\s*)*(SELECT|WITH)\b",
                         sh_so):
        raise UnsupportedChSql(
            f"{m.group(1).upper()}{' ALL' if m.group(2) else ''} keeps "
            "the left side's duplicates in ClickHouse (a membership "
            "filter: one right match removes EVERY left copy) — "
            "Spark's bare form deduplicates and its ALL form is bag "
            "subtraction, both silently different.  Spell "
            f"{m.group(1).upper()} DISTINCT for the deduplicating "
            "form, or a LEFT SEMI/ANTI JOIN for CH's default")
    # numbers(N) / numbers(M, N) table function → range(); the column
    # is named `number` in CH, `id` in Spark.  Matched in every
    # relation position — FROM, any JOIN spelling, and comma joins —
    # not just the first FROM (probe r10: `a CROSS JOIN numbers(3)`)
    def numbers_to_range(m: "re.Match") -> str:
        kw, a, b = m.group(1), m.group(2), m.group(3)
        rng = f"range({a}, {int(a) + int(b)})" if b else f"range({a})"
        return f"{kw} (SELECT id AS number FROM {rng})"

    sql = _sub_masked(
        r"(?i)(\bFROM\b|\bJOIN\b|,)\s*numbers\s*"
        r"\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)", numbers_to_range, sql)
    # `FROM t FINAL` → `FROM t`: dedup-on-read views already implement
    # ReplacingMergeTree FINAL (operators/dedup.py).  Anchored on the
    # FROM clause so a column/alias named "final" is untouched; masked
    # scan so literal text containing "FROM x FINAL" is left alone.
    sql = _sub_masked(r"(?i)(\bFROM\s+[A-Za-z_`][\w.`]*)\s+FINAL\b",
                      lambda m: m.group(1), sql)
    sql = _with_totals(sql)  # before _scalar_with: TOTALS is not a CTE
    # scalar WITH items appear inside subqueries too (review r10)
    sql = _recurse_select_blocks(sql, _scalar_with)
    # any depth, ONE walk: CH allows per-subquery SETTINGS tails and
    # PREWHERE (probe r11l); the FORMAT end-anchor binds to each
    # block's own text under the recursion, and the join_use_nulls=0
    # raise fires at any depth
    sql = _recurse_select_blocks(
        sql, lambda s: _prewhere_to_where(_strip_trailing_clauses(s)))
    if re.search(r"(?i)\bSAMPLE\s+[\d.]", _mask_literals(sql)):
        raise UnsupportedChSql(
            "SAMPLE clause: CH samples deterministically by the table's "
            "sampling key, Spark TABLESAMPLE does not — use "
            "datapipe.sampling.hash_sample for a reproducible sample"
        )
    if re.search(r"(?i)\bCOLLATE\s+'", _mask_literals(sql)):
        raise UnsupportedChSql(
            "ORDER BY … COLLATE: locale collation cannot be honored "
            "(Spark sorts by binary/UTF8 order) — stripping it would "
            "silently change string ordering; sort a locale-folded "
            "key expression instead"
        )
    # any nesting depth: a SUBQUERY's ARRAY JOIN left untranslated
    # parses in Spark as a plain join against a relation named like
    # the array — loud if no such table exists, SILENT if one does
    # (probe r11l caught the nested shape)
    sql = _recurse_select_blocks(sql, _array_join_clause)
    # CH sorts NULLs LAST by default in BOTH directions; Spark's ASC
    # default is NULLS FIRST — a silent-value diff for every ORDER-BY-
    # driven pick (LIMIT / LIMIT BY / DISTINCT ON / WITH TIES) over a
    # NULL-bearing key (r12g fuzz lead).  Runs BEFORE the bridges that
    # splice the user's ORDER BY text into their window rewrites, so
    # the modifier rides along.
    sql = _order_by_nulls_last(sql)
    # ANY depth (review r11l): for translate-only callers a NESTED
    # ASOF JOIN would otherwise reach Spark's parser, which reads
    # ASOF as a table alias and runs an ordinary inner join on the
    # >= condition — row multiplication, silently (run_ch_sql's
    # bridge consumes the supported form before translate)
    if re.search(r"(?i)\bASOF\s+(LEFT\s+)?JOIN\b", _mask_literals(sql)):
        raise UnsupportedChSql(
            "ASOF JOIN has no Spark SQL equivalent — run_ch_sql bridges "
            "the simple-table form through operators/asof.asof_join "
            "(union+window, single shuffle); for DataFrames use that "
            "operator directly"
        )
    # GLOBAL IN / GLOBAL JOIN: CH's distributed-subquery hint; the
    # relational meaning is plain IN / JOIN (Catalyst plans shipping).
    # Applied outside string literals at ANY depth (subqueries use it).
    sql = _strip_global_hints(sql)
    # CH join multiplicity: ALL (the default, noise word) strips; ANY
    # (one arbitrary right row per key) dedups the right side.  The
    # eager-aggregation deferral runs FIRST, on the original ANY LEFT
    # JOIN spelling (r16): aggregate the fact side, then attach the
    # literal dim to the finished groups.
    sql = _defer_any_left_join(sql)
    sql = _rewrite_any_join(sql)
    # tuple-IN over literal lists: Spark's struct IN demands exact
    # struct type equality; the expansion coerces per element
    sql = _tuple_in_literals(sql)
    # SELECT * [EXCEPT] REPLACE modifier → * EXCEPT + re-appended
    # expressions (APPLY/COLUMNS raise inside)
    sql = _select_star_modifiers(sql)
    # ANSI quantified comparisons (x > ANY (SELECT …)) — CH parses
    # them, Spark 4 does not; exact rewrite incl. empty/NULL cases
    sql = _quantified_subqueries(sql)
    sql = _preaggregate_topk(sql, strict_scale=strict_scale)
    # intervalLengthSum plans the stateless window spelling by default
    # (VERDICT r11 item 3); declined shapes keep the fold + warning.
    # WHERE/HAVING aliases inline FIRST: the wrap moves the WHERE into
    # the source subquery, out of the later statement-level pass's
    # sight (review r12a) — gated so non-ILS statements keep their
    # exact pass order
    if re.search(r"\b(intervalLengthSum|maxIntersections)\w*\s*\(",
                 _mask_literals(sql)):
        sql = _inline_where_aliases(sql)
    sql = _preaggregate_ils(sql)
    # maxIntersections plans the stateless window sweep by default
    # (r14; the ILS precedent) — declined shapes keep the fold +
    # MaxIntersectionsFoldWarning
    sql = _preaggregate_maxint(sql)
    # QUALIFY before the LIMIT/OFFSET respellings: its tail relocation
    # must see the original clause text; both run per select block
    sql = _recurse_select_blocks(sql, _qualify_clause)
    sql = _recurse_select_blocks(sql, _limit_offset_forms)
    # WITH TIES at ANY nesting depth (r13 fuzz lead: the top-level-
    # only contract raised on subquery placements CH accepts)
    return _recurse_select_blocks(
        _limit_by_recursive(_inline_where_aliases(_rewrite_calls(sql))),
        _limit_with_ties)


def _normalize_escapes(sql: str) -> str:
    """Convert ClickHouse backslash escapes inside string literals to
    the ``''`` doubling convention every scanner in this module (and
    ANSI SQL) understands.  CH's own query formatter emits ``\\'`` —
    left alone it would invert every scanner's in/out-of-string
    classification for the rest of the statement (review r8).
    ``\\\\`` (escaped backslash) passes through unchanged."""
    out, i, n = [], 0, len(sql)
    in_lit = False
    while i < n:
        c = sql[i]
        if not in_lit:
            out.append(c)
            if c == "'":
                in_lit = True
            i += 1
            continue
        if c == "\\" and i + 1 < n and sql[i + 1] == "'":
            out.append("''")
            i += 2
        elif c == "\\" and i + 1 < n and sql[i + 1] == "\\":
            out.append("\\\\")
            i += 2
        elif c == "'" and i + 1 < n and sql[i + 1] == "'":
            out.append("''")
            i += 2
        else:
            out.append(c)
            if c == "'":
                in_lit = False
            i += 1
    return "".join(out)


#: Tokens after which a word spelled ``global`` is an OPERAND (a
#: column/alias), not CH's distributed-subquery hint — the hint only
#: ever follows a completed expression (identifier, ``)``, literal).
_GLOBAL_KEEP_PREV = {
    "", "SELECT", "WHERE", "AND", "OR", "ON", "NOT", "FROM", "BY",
    "HAVING", "WHEN", "THEN", "ELSE", "CASE", "IN", "IS", "LIKE",
    "BETWEEN", "DISTINCT", "ALL", "AS", ",", "(", "=", "<", ">",
    "<=", ">=", "!=", "<>", "+", "-", "*", "/", "%",
}


def _strip_global_hints(sql: str) -> str:
    """Remove ``GLOBAL`` hint tokens before IN/NOT IN/JOIN/ANY/ALL —
    but ONLY in hint position (after a completed expression).  An
    identifier literally named ``global`` used as an operand
    (``WHERE global IN (1,2)``) is preceded by a clause boundary or
    operator and is left untouched (ADVICE r6)."""
    def drop_hint(m: "re.Match") -> str:
        pm = re.search(r"([A-Za-z_0-9`$.]+|\S)\s*$", m.string[: m.start()])
        prev = pm.group(1).upper() if pm else ""
        # operand named 'global', not a hint: keep it
        return m.group(0) if prev in _GLOBAL_KEEP_PREV else ""

    return _sub_masked(
        r"(?i)\bGLOBAL\s+(?=IN\b|NOT\s+IN\b|JOIN\b|ANY\b|ALL\b)",
        drop_hint, sql)


def _any_join_guard(sh: str, start: int, g1: str | None,
                    g2: str | None) -> None:
    """A bare ``ANY JOIN`` match preceded by RIGHT/FULL [OUTER] is
    really a ``RIGHT ANY JOIN`` — unsupported direction; rewriting
    just the tail would splice INNER after RIGHT."""
    pre = re.search(r"(?i)\b(RIGHT|FULL)\s+(?:OUTER\s+)?$", sh[:start])
    if pre is not None and g1 is None and g2 is None:
        raise UnsupportedChSql(
            f"{pre.group(1).upper()} ANY JOIN not supported — "
            "pre-deduplicate the many side yourself (row_number "
            "OVER the key = 1)")


def _any_dedup_repl(jtype: str, rel: str, alias: str,
                    using_text: str) -> str:
    """Assemble the ANY-dedup join replacement shared by the table
    and subquery forms: ``any_value(struct(*)) GROUP BY keys``, a
    hash aggregate with MAP-SIDE PARTIALS, so the dedup exchange
    carries one row per (partition, key) instead of every duplicate —
    1/dup_factor of the shuffle a row_number window needs, and no
    sort (measured: tools/scale_rehearsal_anyjoin.py).  The pick is
    arbitrary, exactly CH's documented ANY contract."""
    cols = [c.strip().strip("`") for c in using_text.split(",")
            if c.strip()]
    if not cols:
        raise UnsupportedChSql("ANY JOIN USING () needs columns")
    keys = ", ".join(f"`{c}`" for c in cols)
    dedup = (f"(SELECT __any_s.* FROM (SELECT any_value(struct(*)) "
             f"AS __any_s FROM {rel} GROUP BY {keys}))")
    return f"{jtype} JOIN {dedup} {alias} USING ({using_text})"


def _defer_any_left_join(sql: str) -> str:
    """Eager aggregation through a literal-dim ANY LEFT JOIN (r16,
    guide §2.2 "shuffle fewer bytes" / §3.1): for

        SELECT <items> FROM big ANY LEFT JOIN (<literal sub>) AS b
        USING (k…) [WHERE <big-only>] GROUP BY <keys ⊇ k> [tail]

    where the right side is referenced ONLY by ``any(b.col)`` select
    items, aggregate FIRST and attach the dim to the finished groups:

        SELECT <keys…, agg aliases…, b.col AS …>
        FROM (SELECT <keys…, agg items> FROM big [WHERE …]
              GROUP BY <keys>) AS big
        ANY LEFT JOIN (<sub>) AS b USING (k…) [tail]

    Sound because ANY LEFT JOIN attaches at most ONE right row per
    USING key and k ⊆ GROUP BY keys: every row of a group carries the
    same key, hence the same single attached right row, so
    ``any(b.col)`` is exactly that row's value (NULL when unmatched —
    identical post-join), and big-side aggregates see the same rows
    either way (a LEFT join to a key-deduped side neither drops nor
    multiplies).  Why it matters: ``any()`` lowers to ``first()``,
    whose variable-length buffer keeps HashAggregate off the plan —
    the ev23 before-plan SORTED the entire fact table inside the
    partial SortAggregate; with the string pick deferred past the
    aggregation the fact side runs as a plain hash aggregate and the
    join input shrinks to |groups| rows.

    Conservative: single top-level ANY LEFT JOIN, FROM-less literal
    right side (its output columns are then enumerable — a bare
    reference to a non-USING right column anywhere declines), bare
    unaliased big table, no HAVING/WINDOW, no OVER in the select
    list, every non-key item aliased, every GROUP BY key a plain
    selected column, tail referencing only output names.  Anything
    else keeps the original shape."""
    sh = _mask_literals(sql)
    if not re.match(r"(?is)^\s*SELECT\b", sh):
        return sql
    depths = _depth_map(sh)
    jm = None
    for cand in re.finditer(
            r"(?i)\bANY\s+LEFT\s+(?:OUTER\s+)?JOIN\s*\(", sh):
        if depths[cand.start()] == 0:
            if jm is not None:
                return sql
            jm = cand
    if jm is None:
        return sql
    cl = _block_clauses(sh, depths, 0, len(sh))
    if ("FROM" not in cl or "GROUP BY" not in cl or "HAVING" in cl
            or "WINDOW" in cl):
        return sql
    if not (cl["FROM"][0] < jm.start() < cl["GROUP BY"][0]):
        return sql
    big_m = re.match(r"(?s)\s*([A-Za-z_]\w*)\s*$",
                     sh[cl["FROM"][1]: jm.start()])
    if big_m is None:
        return sql
    big = big_m.group(1)
    sel_m = re.match(r"(?is)^\s*SELECT\s+", sh)
    items_a, items_b = sel_m.end(), cl["FROM"][0]
    if re.search(r"(?i)\bOVER\s*\(", sh[items_a: items_b]):
        return sql
    # right-side sub: FROM-less literal SELECT chain
    open_p = jm.end() - 1
    close_p = next((i for i in range(open_p + 1, len(sh))
                    if sh[i] == ")" and depths[i] == depths[open_p]), -1)
    if close_p < 0:
        return sql
    sub_sh = sh[open_p + 1: close_p]
    if re.search(r"(?i)\b(FROM|JOIN|WITH|OVER|GROUP|ORDER|LIMIT)\b",
                 sub_sh):
        return sql
    first_branch = re.split(r"(?i)\bUNION\b", sub_sh)[0]
    rcols = {c.lower() for c in
             re.findall(r"(?i)\bAS\s+([A-Za-z_]\w*)", first_branch)}
    tm = re.match(
        r"(?is)\s*(?:AS\s+)?([A-Za-z_]\w*)\s+USING\s*\(([^()]*)\)",
        sh[close_p + 1:])
    if tm is None:
        return sql
    b_alias = tm.group(1)
    keys = [k.strip() for k in tm.group(2).split(",") if k.strip()]
    if not keys or any(not re.match(r"^[A-Za-z_]\w*$", k) for k in keys):
        return sql
    keyset = {k.lower() for k in keys}
    # clause spans
    grp_a, grp_b = cl["GROUP BY"][1], min(
        [cl[k][0] for k in ("ORDER BY", "LIMIT") if k in cl] + [len(sh)])
    grp_cols = [g.strip() for g in sql[grp_a: grp_b].split(",")]
    if any(not re.match(r"^[A-Za-z_]\w*$", g) for g in grp_cols):
        return sql
    grpset = {g.lower() for g in grp_cols}
    if not keyset <= grpset:
        return sql
    where_span = None
    if "WHERE" in cl:
        if not (close_p < cl["WHERE"][0] < cl["GROUP BY"][0]):
            return sql
        where_span = (cl["WHERE"][1], cl["GROUP BY"][0])
        wsh = sh[where_span[0]: where_span[1]]
        if (re.search(rf"(?i)\b{b_alias}\s*\.", wsh)
                or _mentions_any(wsh, rcols - keyset)):
            return sql
    tail_a = min([cl[k][0] for k in ("ORDER BY", "LIMIT") if k in cl]
                 + [len(sh)])
    tail = sql[tail_a:].rstrip()
    # classify select items on depth-0 commas
    outer_items, agg_inner = [], []
    taken = set(grpset) | keyset | rcols
    last = items_a
    spans = []
    for i in range(items_a, items_b):
        if sh[i] == "," and depths[i] == 0:
            spans.append((last, i))
            last = i + 1
    spans.append((last, items_b))
    out_names = []
    for a, b in spans:
        item = sql[a:b].strip()
        if not item:
            return sql
        expr, alias = _split_item_alias(item)
        any_m = re.match(
            rf"(?is)^any\(\s*{b_alias}\.([A-Za-z_]\w*)\s*\)$", expr)
        if any_m is not None:
            col = any_m.group(1)
            if col.lower() not in rcols or alias is None:
                return sql
            outer_items.append(f"{b_alias}.{col} AS {alias}")
            out_names.append(alias.lower())
            continue
        if re.match(r"^[A-Za-z_]\w*$", expr) and expr.lower() in grpset:
            outer_items.append(item)
            out_names.append((alias or expr).lower())
            continue
        esh = _mask_literals(expr)
        if (alias is None or "(" not in esh
                or re.search(rf"(?i)\b{b_alias}\s*\.", esh)
                or _mentions_any(esh, rcols - keyset)
                or alias.lower() in taken):
            return sql
        taken.add(alias.lower())
        agg_inner.append(f"{expr} AS {alias}")
        outer_items.append(alias)
        out_names.append(alias.lower())
    if not agg_inner:
        return sql
    # tail may reference only output names (plus ORDER/LIMIT syntax)
    tail_ids = set(re.findall(r"[A-Za-z_]\w*", _mask_literals(tail)))
    tail_kw = {"order", "by", "limit", "offset", "asc", "desc", "nulls",
               "first", "last", "with", "ties", "all"}
    if {t.lower() for t in tail_ids} - tail_kw - set(out_names):
        return sql
    where_txt = (f" WHERE {sql[where_span[0]: where_span[1]].strip()}"
                 if where_span else "")
    inner = (f"SELECT {', '.join(grp_cols + agg_inner)} FROM {big}"
             f"{where_txt} GROUP BY {sql[grp_a: grp_b].strip()}")
    sub = sql[open_p + 1: close_p]
    out = (f"SELECT {', '.join(outer_items)} FROM ({inner}) AS {big} "
           f"ANY LEFT JOIN ({sub}) AS {b_alias} "
           f"USING ({tm.group(2).strip()})")
    if tail:
        out += f" {tail}"
    return out


def _mentions_any(sh: str, names: set[str]) -> bool:
    """True if any of ``names`` occurs as a bare identifier token in
    the masked fragment (``AS <name>`` aliases excluded)."""
    if not names:
        return False
    sh = re.sub(r"(?i)\bAS\s+[A-Za-z_]\w*", " ", sh)
    return any(t.lower() in names
               for t in re.findall(r"[A-Za-z_]\w*", sh))


def _rewrite_any_join(sql: str) -> str:
    """CH join multiplicity keywords.

    ``ALL INNER/LEFT/… JOIN`` is CH's explicit default (every matching
    row) — the keyword strips (both orders: ``ALL LEFT [OUTER] JOIN``
    and ``LEFT ALL JOIN``).  ``ANY [LEFT|INNER] [OUTER] JOIN t
    [alias] USING (cols)`` — and CH's other modifier order ``LEFT
    ANY JOIN`` — keeps at most ONE right row per join key: the right
    side rewrites to a key-deduplicated subquery
    (``any_value(struct(*)) GROUP BY keys`` — a hash aggregate with
    map-side partials; a row_number window would shuffle every
    duplicate then sort).  The pick is ARBITRARY, exactly CH's
    contract — CH documents ANY's row choice as nondeterministic,
    and so is this one across shuffles.  Subquery right sides take
    the same dedup (r10).  ANY forms this cannot express (ON
    conditions — the dedup key set is not syntactically recoverable
    from an arbitrary predicate — and the RIGHT/FULL direction)
    raise naming the USING workaround.
    Quantified-comparison ``ANY (SELECT …)`` is never followed by
    JOIN and stays untouched."""
    # ALL noise word: only immediately before a join spelling —
    # covers `ALL LEFT [OUTER] JOIN` and the postfix `LEFT ALL JOIN`
    # order; UNION ALL / `> ALL (` don't match
    sql = _sub_masked(
        re.compile(r"(?i)\bALL\s+(?=(?:(?:INNER|LEFT|RIGHT|FULL)\s+)?"
                   r"(?:OUTER\s+)?JOIN\b)"),
        "", sql)
    any_rx = re.compile(
        r"(?i)\b(?:ANY\s+(?:(LEFT|INNER)\s+(?:OUTER\s+)?)?"
        r"|(LEFT|INNER)\s+(?:OUTER\s+)?ANY\s+)JOIN\s+"
        r"([A-Za-z_][\w.]*)"                      # simple table ref
        r"(?:\s+AS)?(?:\s+(?!USING\b)([A-Za-z_]\w*))?"  # optional alias
        r"\s+USING\s*\(([^()]*)\)")
    while True:
        sh = _mask_literals(sql)
        m = any_rx.search(sh)
        if m is None:
            break
        _any_join_guard(sh, m.start(), m.group(1), m.group(2))
        jtype = (m.group(1) or m.group(2) or "INNER").upper()
        table, alias = m.group(3), m.group(4) or ""
        if not alias:
            # a qualified db.tbl name cannot serve as its own alias
            alias = f"`{table.split('.')[-1]}`"
        repl = _any_dedup_repl(jtype, table, alias, m.group(5))
        sql = sql[: m.start()] + repl + sql[m.end():]
    # subquery right side: `ANY [LEFT|INNER] JOIN (SELECT …) [AS] a
    # USING (cols)` — same hash-aggregate dedup over the derived
    # relation (probe r10: everyday Grafana shape)
    any_sub_rx = re.compile(
        r"(?i)\b(?:ANY\s+(?:(LEFT|INNER)\s+(?:OUTER\s+)?)?"
        r"|(LEFT|INNER)\s+(?:OUTER\s+)?ANY\s+)JOIN\s*\(")
    while True:
        sh = _mask_literals(sql)
        m = any_sub_rx.search(sh)
        if m is None:
            break
        _any_join_guard(sh, m.start(), m.group(1), m.group(2))
        jtype = (m.group(1) or m.group(2) or "INNER").upper()
        open_p = m.end() - 1
        close_p = _find_partner(sh, open_p)
        if close_p < 0:
            raise UnsupportedChSql("unbalanced parens in ANY JOIN")
        tm = re.match(
            r"(?is)\s*(?:AS\s+)?(?!USING\b)([A-Za-z_]\w*)?\s*"
            r"USING\s*\(([^()]*)\)", sh[close_p + 1:])
        if tm is None:
            break  # ON-form or other tail: the leftover scan raises
        subq = sql[open_p: close_p + 1]
        alias = tm.group(1) or "__any_j"
        repl = _any_dedup_repl(jtype, f"{subq} __any_r", alias,
                               tm.group(2))
        sql = (sql[: m.start()] + repl
               + sql[close_p + 1 + tm.end():])
    sh = _mask_literals(sql)
    left = re.search(
        r"(?i)\b(?:ANY\s+(?:(?:LEFT|RIGHT|INNER|FULL)\s+)?(?:OUTER\s+)?"
        r"JOIN|(?:LEFT|RIGHT|INNER|FULL)\s+(?:OUTER\s+)?ANY\s+JOIN)\b",
        sh)
    if left is not None:
        raise UnsupportedChSql(
            "ANY JOIN is supported for the `ANY [LEFT|INNER] JOIN "
            "<table> [alias] USING (cols)` form only — the USING keys "
            "define the dedup; for ON-condition or RIGHT/FULL ANY "
            "joins, pre-deduplicate the side yourself (row_number "
            "OVER the key = 1)")
    return sql


def _select_star_modifiers(sql: str) -> str:
    """CH's ``SELECT * [EXCEPT (…)] REPLACE (expr AS col, …)``
    modifier → ``* EXCEPT (cols…), expr AS col, …`` (r10f).

    Spark has ``* EXCEPT`` natively but not ``REPLACE``; the rewrite
    drops the replaced columns from the star and re-appends the
    replacement expressions.  DEVIATION (documented): replaced
    columns move to the END of the projection — CH keeps their
    original position; the VALUES are identical.  ``* APPLY (fn)``
    and ``COLUMNS('re')`` need the column list, which SQL text does
    not carry — they raise naming the workaround.
    """
    if re.search(r"(?i)\*\s*(?:EXCEPT\s*\([^()]*\)\s*)?APPLY\s*\(",
                 _mask_literals(sql)):
        raise UnsupportedChSql(
            "SELECT * APPLY (fn) needs the table's column list — "
            "run_ch_sql resolves it from the session catalog when the "
            "FROM is a plain registered table/view (r11b); for joins/"
            "subqueries/table functions spell the aggregates "
            "explicitly or use df.select([fn(c) for c in df.columns])")
    pos = 0
    while True:
        sh = _mask_literals(sql)
        m = re.compile(
            r"(?i)\*\s*(?:EXCEPT\s*\(([^()]*)\)\s*)?REPLACE\s*\("
        ).search(sh, pos)
        if m is None:
            return sql
        # `a * replace('x', …)` is MULTIPLICATION by the string
        # function — only a projection star (preceded by SELECT, a
        # comma, `(`, or a `.` qualifier) is the modifier form
        k = m.start() - 1
        while k >= 0 and sh[k] in " \t\n":
            k -= 1
        if k >= 0 and (sh[k].isalnum() or sh[k] in "_`')]"):
            prev_word = re.search(r"([A-Za-z_]\w*)$", sh[: k + 1])
            if prev_word is None or prev_word.group(1).upper() not in (
                    "SELECT", "DISTINCT"):
                pos = m.end()
                continue
        open_p = m.end() - 1
        close_p = _find_partner(sh, open_p)
        if close_p < 0:
            raise UnsupportedChSql("unbalanced parens in * REPLACE")
        items = []
        for it in _split_args(sql[open_p + 1: close_p]):
            am = _ALIAS_RE.match(it.strip())
            if am is None:
                raise UnsupportedChSql(
                    "* REPLACE items must be `expr AS column`")
            items.append((am.group(1), am.group(2).strip("`")))
        if not items:
            raise UnsupportedChSql("* REPLACE () needs items")
        except_cols = [c.strip() for c in (m.group(1) or "").split(",")
                       if c.strip()]
        all_except = ", ".join(
            [*except_cols, *(f"`{c}`" for _, c in items)])
        repl = ("* EXCEPT (" + all_except + "), "
                + ", ".join(f"{e} AS `{c}`" for e, c in items))
        sql = sql[: m.start()] + repl + sql[close_p + 1:]
        pos = 0  # consumed — rescan from the top


def _tuple_in_literals(sql: str) -> str:
    """``(a, b) [NOT] IN ((1, 2), (3, 4))`` → OR-of-conjunctions.

    Spark's struct IN requires EXACT struct type equality — a bigint
    column tuple never matches int literal tuples
    (DATA_DIFF_TYPES; probe r10) — while CH coerces per element.  The
    expansion ``((a)=(1) AND (b)=(2)) OR …`` rides ordinary binary
    comparison coercion and keeps IN's three-valued NULL semantics
    (NOT wraps the whole disjunction).  Only literal tuple lists with
    a multi-element left tuple rewrite; subquery right sides and
    scalar parenthesized left expressions stay untouched (Spark
    handles both).
    """
    while True:
        sh = _mask_literals(sql)
        done = True
        for m in re.finditer(r"(?i)\b(NOT\s+)?IN\s*\(", sh):
            j = m.start() - 1
            while j >= 0 and sh[j] in " \t\n":
                j -= 1
            if j < 0 or sh[j] != ")":
                continue
            # left tuple: balanced backward scan to its '('
            lo = _find_partner(sh, j)
            if lo < 0:
                continue
            # a preceding identifier makes this a FUNCTION CALL's
            # argument list, not a bare tuple (review r10:
            # `greatest(a, b) IN (…)` must stay scalar IN) — except
            # CH's canonical `tuple(a, b) IN (…)` spelling, whose
            # args ARE the tuple (consume the word too), and SQL
            # clause keywords (`WHERE (a, b) IN …`), which just
            # precede a bare tuple
            k = lo - 1
            while k >= 0 and sh[k] in " \t\n":
                k -= 1
            lo_full = lo
            if k >= 0 and (sh[k].isalnum() or sh[k] in "_`"):
                wm = re.search(r"([A-Za-z_]\w*)$", sh[: k + 1])
                word = wm.group(1).lower() if wm else ""
                if word == "tuple":
                    lo_full = wm.start()
                elif word not in (
                    "where", "and", "or", "not", "on", "when", "then",
                    "else", "in", "select", "by", "having", "from",
                    "using", "union", "all", "distinct", "over",
                    "case", "end", "is", "between", "prewhere",
                ):
                    continue  # function call — leave scalar IN alone
            left_elems = _split_args(sql[lo + 1: j])
            if len(left_elems) < 2:
                continue  # parenthesized scalar — not a tuple
            # IN list: balanced forward scan; skip subqueries
            inner_start = m.end()
            if re.match(r"(?is)\s*SELECT\b", sh[inner_start:]):
                continue
            hi = _find_partner(sh, inner_start - 1)
            if hi < 0:
                continue
            parts = _split_args(sql[inner_start: hi])
            tuples = []
            ok = True
            for p in parts:
                p = p.strip()
                # accept both `(1, 2)` and CH's `tuple(1, 2)` entries
                pm = re.match(r"(?is)^tuple\s*\((.*)\)$", p)
                if pm is not None:
                    p = "(" + pm.group(1) + ")"
                if not (p.startswith("(") and p.endswith(")")):
                    ok = False
                    break
                elems = _split_args(p[1:-1])
                if len(elems) != len(left_elems):
                    raise UnsupportedChSql(
                        f"tuple IN arity mismatch: left has "
                        f"{len(left_elems)} elements, list entry {p} "
                        f"has {len(elems)}")
                tuples.append(elems)
            if not ok or not tuples:
                continue
            conds = " OR ".join(
                "(" + " AND ".join(
                    f"({le}) = ({re_})"
                    for le, re_ in zip(left_elems, elems)) + ")"
                for elems in tuples)
            expr = f"(NOT ({conds}))" if m.group(1) else f"({conds})"
            sql = sql[:lo_full] + expr + sql[hi + 1:]
            done = False
            break
        if done:
            return sql


def _array_join_clause(sql: str) -> str:
    """CH's ``FROM t [LEFT] ARRAY JOIN arr AS x`` clause → Spark
    ``LATERAL VIEW [OUTER] explode(arr) __aj AS x`` (single-array
    form; the multi-array zip form raises rather than guessing).
    Without ``AS``, a bare column ref ``ARRAY JOIN arr`` re-uses the
    column's own name, matching CH's shadowing behavior."""
    while True:
        m = _scan_toplevel(sql, r"\b(LEFT\s+)?ARRAY\s+JOIN\b")
        if m is None:
            return sql
        outer = "OUTER " if m.group(1) else ""
        after = sql[m.end():]
        stop = _scan_toplevel(
            after,
            r"\b(WHERE|PREWHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|"
            r"WINDOW|UNION|SETTINGS|LEFT|RIGHT|INNER|JOIN)\b",
        )
        clause = (after if stop is None else after[: stop.start()]).strip()
        tail = "" if stop is None else " " + after[stop.start():]
        if "," in clause:
            # multi-array zip form: `ARRAY JOIN a AS x, b AS y` — CH
            # iterates the arrays IN LOCKSTEP.  Spark equivalent: one
            # explode over arrays_zip, aliases rewritten to the zipped
            # struct's fields.  Restricted to simple aliased column
            # refs (arrays_zip names fields positionally otherwise).
            # Deviation (documented): CH errors on unequal lengths,
            # arrays_zip NULL-pads — identical on every CH-valid input.
            import uuid as _uuid

            # uuid-suffixed synthetics (advice r13): a source table
            # already carrying a `__ajm0`/`__ajw`/`__zr` column would
            # collide with fixed names (AMBIGUOUS_REFERENCE) — same
            # reason the ASOF bridge suffixes `__asof_rts_<uid>`
            uid = _uuid.uuid4().hex[:8]
            zrow = f"__zr_{uid}"
            items = []
            wraps: list[tuple[str, str]] = []  # (expr, user alias)
            for part in _split_args(clause):
                im = re.match(
                    r"(?is)^\s*([A-Za-z_]\w*)\s+AS\s+([A-Za-z_]\w*)\s*$", part
                )
                if im:
                    items.append((im.group(1), im.group(2)))
                    continue
                # EXPRESSION member (r13: `arrayEnumerate(arr) AS i`,
                # CH's standard positional-index idiom): compute it as
                # a derived array column in a wrapped FROM, then zip
                # the synthetic column like any other
                em = re.match(r"(?is)^\s*(.+?)\s+AS\s+([A-Za-z_]\w*)"
                              r"\s*$", part)
                if not em:
                    raise UnsupportedChSql(
                        "multi-array ARRAY JOIN members need an AS "
                        "alias (`arr AS x, expr AS y`)")
                wraps.append((em.group(1).strip(), em.group(2)))
            pos0 = m.start()
            if wraps:
                head_txt = sql[: m.start()]
                fm2 = re.search(r"(?is)\bFROM\s+([A-Za-z_][\w.]*)\s*$",
                                head_txt)
                if fm2 is None:
                    raise UnsupportedChSql(
                        "multi-array ARRAY JOIN with EXPRESSION "
                        "members is supported directly after FROM "
                        "<table> — alias the expression as an array "
                        "column in a subquery otherwise")
                cols = ", ".join(f"{e} AS __ajm{i}_{uid}"
                                 for i, (e, _) in enumerate(wraps))
                head_new = (head_txt[: fm2.start()]
                            + f"FROM (SELECT *, {cols} FROM "
                            + f"{fm2.group(1)}) __ajw_{uid}")
                pos0 = m.start() + len(head_new) - len(head_txt)
                sql = head_new + sql[m.start():]
                items += [(f"__ajm{i}_{uid}", al)
                          for i, (_, al) in enumerate(wraps)]
            zipped = ", ".join(c for c, _ in items)
            sql = (
                sql[: pos0]
                + f" LATERAL VIEW {outer}explode(arrays_zip({zipped})) "
                + f"__ajz_{uid} AS {zrow}"
                + tail
            )
            # alias → zipped-struct field, restricted to the SELECT
            # block containing the ARRAY JOIN: other scopes (sibling
            # CTEs, UNION branches, subqueries elsewhere) may
            # legitimately define the same identifier (ADVICE r7)
            sh = _mask_literals(sql)
            depths = _depth_map(sh)
            bs = _enclosing_select(sh, depths, pos0)
            lo, hi = (0, len(sql)) if bs < 0 else \
                (bs, _block_end(sh, depths, bs))
            for col, alias in items:
                depths = _depth_map(sh)

                def to_field(am2: "re.Match") -> str:
                    # only references belonging to THIS select block:
                    # a NESTED subquery may define the same identifier
                    # (its own ARRAY JOIN alias, a column alias) and
                    # cannot see this block's zip row anyway — fuzz
                    # seed 151510/144 nested `ARRAY JOIN a AS u`
                    # inside the zip form's source and the unscoped
                    # rewrite clobbered the inner AS u into invalid
                    # `AS __zr.x`
                    if bs >= 0 and _enclosing_select(
                            sh, depths, lo + am2.start()) != bs:
                        return am2.group(0)
                    return f"{zrow}.{col}"

                block = _sub_masked(rf"(?<![\w.`]){re.escape(alias)}\b",
                                    to_field, sql[lo:hi])
                # the block end shifts with each pass
                sql, hi = sql[:lo] + block + sql[hi:], lo + len(block)
                sh = _mask_literals(sql)
            continue
        am = re.match(r"(?is)^(.*?)\s+AS\s+([A-Za-z_]\w*|`[^`]*`)\s*$", clause)
        head = sql[: m.start()]
        if am:
            arr, alias = am.group(1).strip(), am.group(2)
        else:
            # bare form: CH SHADOWS the source column with its elements.
            # Emulate by dropping the array column in a wrapped FROM —
            # possible only for a simple `FROM table` head.
            arr = clause
            if not re.match(r"^[A-Za-z_]\w*$", arr):
                raise UnsupportedChSql(
                    "ARRAY JOIN on an expression needs an AS alias"
                )
            fm = re.search(r"(?is)\bFROM\s+([A-Za-z_][\w.]*)\s*$", head)
            if fm is None:
                raise UnsupportedChSql(
                    "bare ARRAY JOIN (column shadowing) supported only "
                    "directly after FROM <table> — add an AS alias"
                )
            head = (
                head[: fm.start()]
                + f"FROM (SELECT * EXCEPT ({arr}), {arr} AS __aj_src "
                + f"FROM {fm.group(1)}) __aj_t"
            )
            alias, arr = arr, "__aj_src"
        if "," in arr:
            raise UnsupportedChSql("multi-array ARRAY JOIN (zip form) not supported")
        sql = head + f" LATERAL VIEW {outer}explode({arr}) __aj AS {alias}" + tail


def _with_totals(sql: str) -> str:
    """``GROUP BY <exprs> WITH TOTALS`` → ``GROUP BY GROUPING SETS
    ((<exprs>), ())`` — one extra whole-set aggregate row, computed in
    the same shuffle.  The lookup is BLOCK-scoped
    (:func:`_enclosing_select`), never a same-depth scan that could
    bind a sibling subquery's GROUP BY (review r9b).  A same-block
    ``HAVING`` is wrapped as ``(grouping_id() = all-ones) OR (cond)``
    so the totals row survives key predicates — CH's default
    ``totals_mode`` computes totals before HAVING.  Deviation: the
    totals row's key columns are NULL (grouping-sets semantics) where
    CH renders the type's default values in its separate totals block;
    ``WITH ROLLUP``/``WITH CUBE`` pass through (native Spark) and
    carry the SAME documented deviation — subtotal rows' key columns
    are NULL here, type defaults (0, '') in CH (r11f probe pin) —
    including the empty-input facet: Spark grouping sets emit NO rows
    over an empty input (no grand-total row) where CH and DuckDB emit
    one (r12f TOTALS pin; r14 fuzz seed 7106/1 for the ROLLUP form).
    ``ORDER BY … WITH FILL`` raises HERE (translate-only callers):
    gap materialization is a sequence join, not an expression —
    :func:`run_ch_sql` bridges the single-column form by extracting
    the clause BEFORE translation and applying
    :func:`_with_fill_apply` to the result DataFrame; richer forms
    live in ``functions/fill.fill_gaps`` (the ``an08`` operator)."""
    if re.search(r"(?i)\bWITH\s+FILL\b", _mask_literals(sql)):
        raise UnsupportedChSql(
            "ORDER BY … WITH FILL: gap materialization needs a "
            "generated time/number spine join — run the query through "
            "run_ch_sql (which bridges the single-column form) or use "
            "functions/fill.fill_gaps"
        )
    while True:
        sh = _mask_literals(sql)
        m = re.search(r"(?i)\bWITH\s+TOTALS\b", sh)
        if m is None:
            return sql
        dx = _depth_map(sh)
        sel = _enclosing_select(sh, dx, m.start())
        if sel < 0:
            raise UnsupportedChSql("WITH TOTALS without a GROUP BY")
        end = _block_end(sh, dx, sel)
        cl = _block_clauses(sh, dx, sel, end)
        gb = cl.get("GROUP BY")
        if gb is None or gb[0] > m.start():
            raise UnsupportedChSql("WITH TOTALS without a GROUP BY")
        exprs = sql[gb[1] : m.start()].strip()
        if not exprs or re.search(
            r"(?i)\b(ROLLUP|CUBE|GROUPING\s+SETS|ALL)\b",
            _mask_literals(exprs),
        ):
            raise UnsupportedChSql(
                "WITH TOTALS combined with ROLLUP/CUBE/GROUPING SETS/"
                "ALL is not bridged — spell the GROUPING SETS directly"
            )
        gb_repl = f"GROUP BY GROUPING SETS (({exprs}), ())"
        having = cl.get("HAVING")
        if having is not None and having[0] > m.start():
            # HAVING condition ends at the next same-depth clause
            h_end = min(
                (p for key, (p, _) in cl.items()
                 if key in ("ORDER BY", "LIMIT", "WINDOW")
                 and p > having[0]),
                default=end,
            )
            cond = sql[having[1] : h_end].strip()
            all_ones = (1 << len(_split_args(exprs))) - 1
            sql = (
                sql[: gb[0]] + gb_repl + sql[m.end() : having[1]]
                + f" ((grouping_id() = {all_ones}) OR ({cond})) "
                + sql[h_end:]
            )
        else:
            sql = sql[: gb[0]] + gb_repl + sql[m.end() :]


def _strip_trailing_clauses(sql: str) -> str:
    """Drop CH's execution-hint tails: a top-level ``SETTINGS k=v, …``
    and/or ``FORMAT Name`` suffix (the engine's execution knobs and
    wire format mean nothing to Spark; the query itself is unchanged).

    One SETTINGS knob is VALUE-BEARING and checked before the strip:
    ``join_use_nulls``.  This bridge always produces NULL for
    non-matched outer-join columns (``join_use_nulls = 1``, the
    SQL-standard behavior); ClickHouse's DEFAULT ``join_use_nulls =
    0`` fills them with the column type's default (0, '') instead —
    a query that explicitly asks for that raises rather than silently
    returning NULLs where CH would return zeros (r10c; also in the
    module docstring's deviations list)."""
    m0 = _scan_toplevel(sql, r"\bjoin_use_nulls\s*=\s*0\b")
    if m0 is not None:
        raise UnsupportedChSql(
            "SETTINGS join_use_nulls = 0 (CH's type-default fill for "
            "non-matched outer-join columns) is not emulated — this "
            "bridge always produces SQL-standard NULLs "
            "(join_use_nulls = 1); coalesce() the right columns to "
            "their defaults if you need CH's default rendering")
    # r11k named raise (previously a raw Spark parse error); the
    # SAMPLE clause already has its own raise in translate_ch_sql
    # (datapipe.sampling.hash_sample pointer)
    m = _scan_toplevel(sql, r"(?i)\bINTO\s+OUTFILE\b")
    if m is not None:
        raise UnsupportedChSql(
            "INTO OUTFILE is ClickHouse client-side output — use "
            "df.write.csv/parquet(...) on the returned DataFrame")
    # a SETTINGS tail ends at the next same-depth set operator — CH
    # allows per-branch SETTINGS in a UNION chain, and cutting to the
    # end of the block would SILENTLY DROP the following branches
    # (review r11l)
    guard = 0
    while guard < 32:
        guard += 1
        m = _scan_toplevel(sql, r"\bSETTINGS\s+\w+\s*=")
        if m is None:
            break
        nxt = _scan_toplevel(sql[m.end():],
                             r"\b(UNION|EXCEPT|INTERSECT)\b")
        if nxt is None:
            sql = sql[: m.start()].rstrip()
        else:
            sql = (sql[: m.start()].rstrip() + " "
                   + sql[m.end() + nxt.start():])
    m = _scan_toplevel(sql, r"\bFORMAT\s+\w+\s*$")
    if m is not None:
        sql = sql[: m.start()].rstrip()
    return sql


def _prewhere_to_where(sql: str) -> str:
    """``PREWHERE`` is CH's manual pushdown stage; relationally it is
    the same filter — merge into WHERE (Catalyst does its own
    pushdown).  ``PREWHERE a WHERE b`` → ``WHERE (a) AND (b)``.
    Loops: a UNION chain holds one PREWHERE per branch at the same
    depth (review r11l)."""
    guard = 0
    while guard < 32:
        guard += 1
        nxt = _prewhere_to_where_once(sql)
        if nxt == sql:
            return sql
        sql = nxt
    return sql


def _prewhere_to_where_once(sql: str) -> str:
    m = _scan_toplevel(sql, r"\bPREWHERE\b")
    if m is None:
        return sql
    after = sql[m.end():]
    clause_end = _scan_toplevel(
        after, r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION)\b"
    )
    if clause_end is None or not after[clause_end.start():].upper().startswith("WHERE"):
        # no same-block WHERE: plain rename
        return sql[: m.start()] + "WHERE" + after
    pre_cond = after[: clause_end.start()].strip()
    rest = after[clause_end.end():]  # the WHERE condition + later clauses
    w_end = _scan_toplevel(
        rest, r"\b(GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW|UNION)\b"
    )
    w_cond = (rest if w_end is None else rest[: w_end.start()]).strip()
    tail = "" if w_end is None else " " + rest[w_end.start():]
    return sql[: m.start()] + f"WHERE ({pre_cond}) AND ({w_cond})" + tail


def _select_top(sql: str) -> str:
    """T-SQL style ``SELECT TOP n [WITH TIES] …`` (ClickHouse parses
    it) → plain SELECT with ``LIMIT n [WITH TIES]`` appended to the
    block.  CH rejects TOP combined with LIMIT, so a pre-existing
    LIMIT passes through and fails loudly in Spark."""
    m = _scan_toplevel(sql, r"\bSELECT\s+TOP\s+(\d+)"
                            r"(\s+WITH\s+TIES)?\b")
    if m is None:
        return sql
    # EXCEPT only counts as a SET OPERATOR when a query follows —
    # `* EXCEPT (v)` / `* EXCEPT v` star-modifiers must not trip the
    # guard (advice r13); shared lookahead handles the
    # arbitrarily-parenthesized `EXCEPT ((SELECT …))` operand too
    # (r13 review)
    if _scan_toplevel(
            sql,
            r"\b(?:UNION|INTERSECT)\b|"
            rf"\bEXCEPT\s*(?:{_SETOP_EXCEPT_RX})"):
        raise UnsupportedChSql(
            "SELECT TOP combined with a set operator — parenthesize "
            "the TOP SELECT (its LIMIT placement is ambiguous)")
    tail = " LIMIT " + m.group(1) + (" WITH TIES" if m.group(2) else "")
    return sql[: m.start()] + "SELECT" + sql[m.end():] + tail


def _scan_dotted_name_left(sql: str, k: int) -> int:
    """Extend a leftward scan from ``k`` across a (possibly
    dot-qualified) identifier: ``db.fn`` scans as one name, so a
    primary like ``db.fn(1,2)`` keeps its whole callee.  Returns the
    new start index.  A dot is crossed only when an identifier
    character follows it on the left (``.5`` stays a numeric/tuple
    token, not a qualifier)."""
    while k > 0:
        c = sql[k - 1]
        if c.isalnum() or c in "_`":
            k -= 1
        elif (c == "." and k > 1
              and (sql[k - 2].isalnum() or sql[k - 2] in "_`")):
            k -= 2
        else:
            break
    return k


def _cast_colons(sql: str) -> str:
    """CH's postfix cast ``expr::Type`` → ``CAST(expr AS Type)`` so
    the CAST machinery's CH type mapping (UInt8 wrap, Nullable,
    LowCardinality, …) applies; Spark's own ``::`` only knows Spark
    type names.  ``::`` binds tightest, so the operand is the
    immediately preceding primary: a quoted literal, an identifier /
    qualified name / number, or a paren or bracket group.  Chained
    casts resolve over the loop (the rewritten CAST ends in ``)``)."""
    while True:
        sh = _mask_idents(_mask_literals(sql))
        m = re.search(r"::\s*([A-Za-z_]\w*)", sh)
        if m is None:
            return sql
        # the type may carry a parenthesized argument list (possibly
        # nested: Array(Nullable(String)))
        tend = m.end()
        rest = sh[tend:]
        pm = re.match(r"\s*\(", rest)
        if pm:
            tend = _find_close(sh, tend + pm.end() - 1) + 1
        type_txt = sql[m.start() + 2: tend].strip()
        # operand: scan back over whitespace, then classify
        i = m.start() - 1
        while i >= 0 and sql[i] in " \t\n":
            i -= 1
        if i < 0:
            raise UnsupportedChSql("'::' cast with no operand")
        if sql[i] in ")]":
            k = _find_partner(sh, i)
            # include a callee identifier / array base before the
            # group (`CAST(…)::String`, `arr[1]::Int64`); dotted
            # qualified callees (`db.fn(…)::T`) scan across the dot —
            # stopping at it would wrap only the tail segment and emit
            # `db.CAST(fn(…) AS T)` (advice r13)
            k = _scan_dotted_name_left(sql, k)
            start = k
        elif sh[i] == "'":
            # masked literal: find its opening quote on the shadow
            start = sh.rfind("'", 0, i)
        elif sh[i] == "`":
            # backtick-quoted identifier (content may hold spaces)
            k = sh.rfind("`", 0, i) - 1
            while k >= 0 and (sql[k].isalnum() or sql[k] in "_.$"):
                k -= 1
            start = k + 1
        else:
            k = i
            while k >= 0 and (sql[k].isalnum() or sql[k] in "_.`$"):
                k -= 1
            start = k + 1
            if start > i:
                raise UnsupportedChSql(
                    f"'::' cast operand not recognized before "
                    f"{sql[max(0, i - 20): i + 1]!r}")
            if (sql[start] == "." and sql[start + 1: i + 1].isdigit()
                    and start > 0 and sh[start - 1] == ")"):
                # `(expr).N::Type` — the operand is the whole tuple
                # element access, not the bare `.N` (advice r13):
                # extend back over the paren group + any callee name
                k = _find_partner(sh, start - 1)
                if k < 0:
                    raise UnsupportedChSql(
                        "'::' cast on an unbalanced (expr).N operand")
                k = _scan_dotted_name_left(sql, k)
                start = k
        operand = sql[start: i + 1]
        sql = (sql[:start] + f"CAST({operand} AS {type_txt})"
               + sql[tend:])


def _tuple_index_access(sql: str) -> str:
    """CH's ``(tuple_expr).N`` element access → ``tupleElement(…, N)``
    (already bridged to struct-field access).  Only the after-``)``
    form rewrites — ``t.1`` on a bare column name is left for Spark
    to reject loudly rather than guessing between a tuple column and
    a numeric-named table alias."""
    while True:
        sh = _mask_idents(_mask_literals(sql))
        m = re.search(r"\)\s*\.(\d+)", sh)
        if m is None:
            return sql
        k = _find_partner(sh, m.start())
        if k < 0:
            return sql  # unbalanced; let the main pass raise
        # a callee identifier before the parens belongs to the
        # primary (`tuple(3, 'x').1` — the group alone would orphan
        # the function name); dotted qualifiers scan across the dot
        # (advice r13, same failure as the `::` cast backscan)
        k = _scan_dotted_name_left(sql, k)
        group = sql[k: m.start() + 1]
        sql = (sql[:k] + f"tupleElement({group}, {m.group(1)})"
               + sql[m.end():])


#: expression delimiters bounding a ternary's condition on the left
_TERNARY_L_RX = (r"(?i)\b(?:SELECT|DISTINCT|WHERE|PREWHERE|HAVING|"
                 r"QUALIFY|FROM|WHEN|THEN|ELSE|ON|BY|WITH|RETURN|"
                 r"SET)\s*$")
#: …and its else-branch on the right (clause keywords; ``AS`` ends a
#: select item, ASC/DESC/NULLS end a sort key)
_TERNARY_R_RX = (r"(?i)\b(?:AS|FROM|WHERE|PREWHERE|GROUP|HAVING|"
                 r"QUALIFY|ORDER|LIMIT|OFFSET|FETCH|SETTINGS|FORMAT|"
                 r"UNION|INTERSECT|EXCEPT|WHEN|THEN|ELSE|END|ASC|"
                 r"DESC|NULLS|INTERPOLATE)\b")


def _ternary_operator(sql: str) -> str:
    """CH's C-style ``cond ? then : else`` → ``if(cond, then, else)``
    (CH documents the equivalence).  Ternary is CH's lowest-precedence
    operator and right-associative: the condition extends left to the
    nearest same-depth comma / enclosing paren / clause keyword, the
    else-branch right to the next same-depth comma / closing paren /
    clause keyword, and the matching ``:`` skips one colon per nested
    ``?``.  Runs AFTER the ``::`` cast rewrite so cast colons are
    gone.  Bare (AS-less) aliases directly after a ternary stay out
    of the subset — the swallowed text fails loudly in Spark."""
    while True:
        sh = _mask_idents(_mask_literals(sql))
        qpos = sh.find("?")
        if qpos < 0:
            return sql
        depths = _depth_map(sh)
        d0 = depths[qpos]
        # ---- matching colon (skip nested ternaries) ----
        pending, cpos = 0, -1
        j = qpos + 1
        while j < len(sh):
            if depths[j] < d0:
                break
            if depths[j] == d0:
                if sh[j] == "?":
                    pending += 1
                elif sh[j] == ":":
                    if pending:
                        pending -= 1
                    else:
                        cpos = j
                        break
            j += 1
        if cpos < 0:
            raise UnsupportedChSql(
                "'?' without a matching ':' — the C-style ternary "
                "needs both branches (cond ? a : b)")
        # ---- left boundary of the condition ----
        i = qpos - 1
        lstart = 0
        while i >= 0:
            if depths[i] < d0:
                lstart = i + 1
                break
            if depths[i] == d0 and sh[i] == ",":
                lstart = i + 1
                break
            if depths[i] == d0:
                km = re.search(_TERNARY_L_RX, sh[: i + 1])
                if km and km.end() == i + 1:
                    lstart = i + 1
                    break
            i -= 1
        # ---- right boundary of the else branch ----
        j = cpos + 1
        rend = len(sql)
        while j < len(sh):
            if depths[j] < d0:
                rend = j
                break
            if depths[j] == d0 and sh[j] == ",":
                rend = j
                break
            if depths[j] == d0:
                km = re.match(_TERNARY_R_RX, sh[j:])
                if km and not (j > 0 and (sh[j - 1].isalnum()
                                          or sh[j - 1] in "_`")):
                    rend = j
                    break
            j += 1
        cond = sql[lstart:qpos].strip()
        then = sql[qpos + 1: cpos].strip()
        other = sql[cpos + 1: rend].strip()
        if not cond or not then or not other:
            raise UnsupportedChSql(
                "ternary with an empty operand (cond ? a : b)")
        sql = (sql[:lstart] + f" if({cond}, {then}, {other})"
               + sql[rend:])


def _scan_toplevel(sql: str, pattern: str) -> "re.Match | None":
    """First regex match at paren depth 0, outside string literals
    AND outside backtick-quoted identifiers (a column named
    ``` `limit 5` ``` must not look like a clause keyword — r12o).
    None past a stray ``)`` or an unbalanced span."""
    rx = re.compile(pattern, re.IGNORECASE)
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "('`":
            i = _find_partner(sql, i)
            if i < 0:
                return None
        elif c == ")":
            return None
        else:
            m = rx.match(sql, i)
            if m:
                return m
        i += 1
    return None


def _recurse_select_blocks(sql: str, fn, _apply: bool = True) -> str:
    """Apply a statement-level rewrite ``fn`` to every SELECT block:
    parenthesized subquery bodies first (innermost via recursion,
    WITH-prefixed bodies included — review r10), then the whole
    statement.  Lets single-level passes (:func:`_limit_by`,
    :func:`_scalar_with`) cover CH's any-nesting-depth placement.

    Paren groups whose content is NOT itself a SELECT block (CASE
    arms, function arguments, …) are still WALKED for nested
    subqueries — ``fn`` just isn't applied to their own level (r12b:
    a `LIMIT BY` inside `CASE WHEN (SELECT …)` was invisible to every
    per-block bridge because the old guard refused to descend)."""
    sh = _mask_literals(sql)
    out: list[str] = []
    last = 0
    m = _OPEN_RX.search(sh)
    while m is not None:
        i = m.start()
        j = _find_partner(sh, i)
        if j < 0:
            break
        if sh[i] == "(":
            # paren-wrapped blocks (`((SELECT …))`) recurse too —
            # review r10g: the guard previously stopped at the outer
            # parens and left the inner SELECT untouched
            is_block = re.match(r"(?is)\s*(SELECT\b|WITH\b|\()",
                                sh[i + 1: j]) is not None
            out += [sql[last: i], "(",
                    _recurse_select_blocks(sql[i + 1: j], fn,
                                           _apply=is_block), ")"]
            last = j + 1
        m = _OPEN_RX.search(sh, j + 1)
    out.append(sql[last:])
    joined = "".join(out)
    return fn(joined) if _apply else joined


def _distinct_on(sql: str) -> str:
    """``SELECT DISTINCT ON (cols) …`` ≡ ``… LIMIT 1 BY cols`` (the
    equivalence ClickHouse's own docs state) — rewrite to the LIMIT BY
    spelling and let :func:`_limit_by` do the row_number work, which
    also inherits its ORDER-BY-required determinism contract (r10g).
    The ``LIMIT 1 BY cols`` lands BEFORE any trailing ``LIMIT n`` so
    the existing ``LIMIT k BY cols [LIMIT m]`` grammar parses it."""
    # depth-0 scan only: a DISTINCT ON inside parens this recursion
    # did not enter (double-parenthesized subquery) must not be
    # rewritten with statement-spanning scope (review r10g)
    m = _scan_toplevel(sql, r"\bSELECT\s+DISTINCT\s+ON\s*\(")
    if m is None:
        return sql
    open_p = sql.index("(", m.end() - 1)
    close_p = _find_close(sql, open_p)
    cols = sql[open_p + 1: close_p].strip()
    if not cols:
        raise UnsupportedChSql("DISTINCT ON () needs columns")
    rest = sql[close_p + 1:]
    if _scan_toplevel(rest, r"\b(UNION|INTERSECT|EXCEPT)\b"):
        # the LIMIT BY would land after the whole set operation and
        # wrap BOTH branches — CH scopes DISTINCT ON to its own
        # SELECT (review r10g)
        raise UnsupportedChSql(
            "DISTINCT ON combined with a set operator needs "
            "parentheses around its SELECT")
    lim = _scan_toplevel(rest, r"\bLIMIT\s+\d+\b")
    if lim is not None:
        rest = (rest[: lim.start()] + f" LIMIT 1 BY {cols} "
                + rest[lim.start():])
    else:
        rest = rest + f" LIMIT 1 BY {cols}"
    head = sql[: m.start()] + "SELECT"
    return head + rest


def _limit_offset_forms(sql: str) -> str:
    """CH's MySQL-style ``LIMIT offset, n`` and the ANSI ``OFFSET a
    ROW[S] [FETCH {FIRST|NEXT} b ROW[S] {ONLY|WITH TIES}]`` spellings
    (both parse in ClickHouse, neither in Spark) → ``LIMIT b OFFSET
    a``.  ``FETCH … WITH TIES`` re-spells to ``LIMIT b WITH TIES`` and
    rides that bridge; OFFSET combined with WITH TIES raises (the ties
    bridge is a top-level window rewrite with no offset seam).
    Applied per select block via :func:`_recurse_select_blocks`."""
    # LIMIT offset, n — but NOT the `LIMIT [offset,] n BY expr` form,
    # whose comma belongs to CH's LIMIT BY grammar and is already
    # bridged by :func:`_limit_by` (leave it for that pass)
    scan = 0
    while True:
        m = _scan_toplevel(sql[scan:], r"\bLIMIT\s+(\d+)\s*,\s*(\d+)\b")
        if m is None:
            break
        if re.match(r"\s*BY\b", sql[scan + m.end():], re.IGNORECASE):
            scan += m.end()
            continue
        sql = (sql[: scan + m.start()]
               + f"LIMIT {m.group(2)} OFFSET {m.group(1)}"
               + sql[scan + m.end():])
    # OFFSET a ROWS FETCH FIRST|NEXT b ROWS ONLY|WITH TIES
    while True:
        m = _scan_toplevel(
            sql,
            r"\bOFFSET\s+(\d+)\s+ROWS?\s+FETCH\s+(?:FIRST|NEXT)\s+"
            r"(\d+)\s+ROWS?\s+(ONLY|WITH\s+TIES)\b")
        if m is None:
            break
        if m.group(3).upper() != "ONLY":
            raise UnsupportedChSql(
                "OFFSET … FETCH … WITH TIES: the ties bridge has no "
                "offset seam — spell rank() <= offset+n and filter "
                "row_number() > offset with a window")
        sql = (sql[: m.start()]
               + f"LIMIT {m.group(2)} OFFSET {m.group(1)}"
               + sql[m.end():])
    # FETCH FIRST|NEXT b ROWS ONLY|WITH TIES (no OFFSET)
    while True:
        m = _scan_toplevel(
            sql, r"\bFETCH\s+(?:FIRST|NEXT)\s+(\d+)\s+ROWS?\s+"
                 r"(ONLY|WITH\s+TIES)\b")
        if m is None:
            break
        spelled = (f"LIMIT {m.group(1)}"
                   if m.group(2).upper() == "ONLY"
                   else f"LIMIT {m.group(1)} WITH TIES")
        sql = sql[: m.start()] + spelled + sql[m.end():]
    # bare ANSI OFFSET a ROW[S] → Spark's OFFSET a
    while True:
        m = _scan_toplevel(sql, r"\bOFFSET\s+(\d+)\s+ROWS?\b")
        if m is None:
            break
        sql = sql[: m.start()] + f"OFFSET {m.group(1)}" + sql[m.end():]
    return sql


def _qualify_clause(sql: str) -> str:
    """CH's ``QUALIFY pred`` (post-window filter) → project the
    predicate alongside the select list and filter in a wrapper:
    ``SELECT * EXCEPT (__qual) FROM (SELECT <list>, (pred) AS __qual
    <body>) WHERE __qual <tail>``.  The ORDER BY / LIMIT tail moves to
    the wrapper (CH evaluates QUALIFY first); set-operator tails glue
    after the wrapper, preserving CH's per-SELECT scoping.  DISTINCT +
    QUALIFY raises (CH applies DISTINCT after QUALIFY; the wrapper
    would invert that silently).  Applied per select block."""
    m = _scan_toplevel(sql, r"\bQUALIFY\b")
    if m is None:
        return sql
    head_m = _scan_toplevel(sql, r"\bSELECT\b")
    if head_m is None or head_m.start() > m.start():
        raise UnsupportedChSql("QUALIFY outside a SELECT block")
    if _scan_toplevel(sql[: m.start()], r"\bSELECT\s+DISTINCT\b"):
        raise UnsupportedChSql(
            "SELECT DISTINCT … QUALIFY: CH applies DISTINCT after the "
            "QUALIFY filter — wrap the QUALIFY query in a subquery and "
            "SELECT DISTINCT from it")
    fm = _scan_toplevel(sql, r"\bFROM\b")
    if fm is None or fm.start() > m.start():
        raise UnsupportedChSql("QUALIFY needs a FROM relation")
    tail_m = _scan_toplevel(
        sql[m.end():],
        r"\b(ORDER\s+BY|LIMIT|OFFSET|FETCH|SETTINGS|FORMAT|UNION|"
        r"INTERSECT|EXCEPT)\b")
    pred_end = m.end() + (tail_m.start() if tail_m else len(sql) - m.end())
    pred = sql[m.end(): pred_end].strip()
    if not pred:
        raise UnsupportedChSql("QUALIFY with an empty predicate")
    head = sql[head_m.end(): fm.start()].strip()  # the select list
    body = sql[fm.start(): m.start()].rstrip()
    tail = sql[pred_end:]
    inner = f"SELECT {head}, ({pred}) AS __qual {body}"
    return (sql[: head_m.start()]
            + f"SELECT * EXCEPT (__qual) FROM ({inner}) WHERE __qual"
            + (" " + tail.lstrip() if tail.strip() else ""))


def _limit_with_ties(sql: str) -> str:
    """``ORDER BY keys LIMIT n WITH TIES`` → a ``rank()`` wrapper:
    WITH TIES returns the first n rows PLUS every row tied with the
    n-th on the sort keys, which is exactly ``rank() <= n`` (rank
    repeats on ties, then skips) — verified against CH's documented
    examples (r11f).  Applied per SELECT block through
    :func:`_recurse_select_blocks` (r13: CH accepts the spelling in
    subqueries too; the old top-level-only contract raised there).
    Offset / positional / expression-qualified spellings raise by
    name; sort keys that are not projected columns of the SELECT list
    fail LOUDLY at analysis (UNRESOLVED_COLUMN in the rank wrapper —
    the module's acceptable-loud category), never silently.  Plan
    cost: one unpartitioned rank window over the sorted block — the
    same sort the LIMIT already needed."""
    sh = _mask_literals(sql)
    # anchored at block end (each recursion level sees its own block
    # text); a mid-block leftover lands on the generic raise below
    m = re.search(r"(?is)\bLIMIT\s+(\d+)\s+WITH\s+TIES\s*$", sh)
    if m is None:
        # only the LIMIT-adjacent spelling raises — a CTE or alias
        # literally named `ties` must not trip this (review r11f)
        if re.search(r"(?is)\bLIMIT\b[\s\d,]{1,40}?\bWITH\s+TIES\b", sh):
            raise UnsupportedChSql(
                "LIMIT … WITH TIES is bridged at the end of its query "
                "block with a plain integer limit only (no OFFSET, no "
                "LIMIT BY tail) — restructure, or spell the rank() "
                "window directly")
        return sql
    depths = _depth_map(sh)
    ob = None
    for mo in re.finditer(r"(?i)\bORDER\s+BY\b", sh[: m.start()]):
        if depths[mo.start()] == 0:
            ob = mo
    if ob is None:
        raise UnsupportedChSql(
            "LIMIT … WITH TIES needs a same-level ORDER BY (ties are "
            "defined by the sort keys)")
    keys = sql[ob.end(): m.start()].strip()
    keys_sh = _mask_literals(keys)
    # a '.' outside numeric literals means table-qualified keys, which
    # the wrapper's subquery would flatten (decimal literals like 0.5
    # inside key expressions are fine — review r11f).  The dialect's
    # OWN rewrite artifacts are exempt: _bind_once struct access
    # (__abN.field) and the wrapper's __wtin qualifier are not user
    # table qualifiers (ADVICE r11 #4 — ORDER BY greatest(a,b) keys
    # rewrite into bound-struct dots and raised spuriously).
    scan = re.sub(r"__ab\d+\.\w+|\b__wtin\.", "",
                  re.sub(r"\d+\.\d*|\.\d+", "", keys_sh))
    if "." in scan:
        raise UnsupportedChSql(
            "LIMIT … WITH TIES with table-qualified sort keys is not "
            "bridged (the rank() wrapper flattens qualifiers) — alias "
            "the keys in the SELECT list")
    # positional keys (ORDER BY 1): a bare integer inside the rank
    # window is a CONSTANT sort in Spark — every row would tie
    # (review r11f); raise rather than return all rows
    for part in _split_args(keys_sh):
        # the NULLS-LAST normalization pass may have appended a
        # modifier — a bare ordinal is still positional under it
        # (review r12g: the tail bypassed this guard and every row
        # tied on the constant)
        if re.fullmatch(
                r"(?is)\s*\d+\s*(ASC|DESC)?\s*"
                r"(NULLS\s+(FIRST|LAST))?\s*", part):
            raise UnsupportedChSql(
                "LIMIT … WITH TIES with a POSITIONAL sort key "
                "(ORDER BY <ordinal>) is not bridged — a bare integer "
                "is a constant inside the rank() window; name the "
                "column")
    body = sql[: ob.start()].rstrip()
    n = m.group(1)
    return (
        f"SELECT * EXCEPT (__wt) FROM (SELECT __wtin.*, rank() OVER "
        f"(ORDER BY {keys}) AS __wt FROM ({body}) AS __wtin) "
        f"WHERE __wt <= {n} ORDER BY {keys}"
    )


def _limit_by_recursive(sql: str) -> str:
    """CH allows ``LIMIT n BY`` and ``DISTINCT ON`` at any nesting
    depth (probe r10)."""
    return _recurse_select_blocks(sql, lambda s: _limit_by(_distinct_on(s)))


def _limit_by(sql: str) -> str:
    """CH ``ORDER BY … LIMIT [k,] n BY cols [LIMIT m]`` (top-n rows
    per group) → a ``row_number`` wrapper.  One level of the statement
    (:func:`_limit_by_recursive` drives subquery bodies); ORDER BY is
    required — CH's LIMIT BY without it keeps rows in storage order,
    which no deterministic engine should mimic."""
    m = _scan_toplevel(sql, r"\bLIMIT\s+(\d+)\s*(?:,\s*(\d+)\s*)?BY\b")
    if m is None:
        return sql
    off, n = (int(m.group(1)), int(m.group(2))) if m.group(2) else (0, int(m.group(1)))
    body = sql[: m.start()].rstrip()
    rest = sql[m.end():]
    # BY column list runs to a top-level LIMIT or the end
    tail_m = _scan_toplevel(rest, r"\bLIMIT\s+(\d+)\b")
    cols = (rest[: tail_m.start()] if tail_m else rest).strip()
    # the trailing clause is kept WHOLE (LIMIT n [OFFSET m] survives —
    # review r10g found the digit-only capture dropped the offset);
    # CH's comma form `LIMIT o, n` rewrites to the OFFSET spelling
    # Spark parses
    final_limit = ""
    if tail_m:
        tail_text = rest[tail_m.start():].strip()
        cm = re.match(r"(?is)LIMIT\s+(\d+)\s*,\s*(\d+)\s*$", tail_text)
        if cm:
            tail_text = f"LIMIT {cm.group(2)} OFFSET {cm.group(1)}"
        final_limit = " " + tail_text
    if not cols:
        raise UnsupportedChSql("LIMIT BY needs at least one column")
    # last top-level ORDER BY in the body
    ob = None
    pos = 0
    while True:
        om = _scan_toplevel(body[pos:], r"\bORDER\s+BY\b")
        if om is None:
            break
        ob = (pos + om.start(), pos + om.end())
        pos = pos + om.end()
    if ob is None:
        raise UnsupportedChSql(
            "LIMIT BY without ORDER BY is storage-order-dependent — add an "
            "ORDER BY to make the per-group selection deterministic"
        )
    order = body[ob[1]:].strip()
    # a bare ordinal is a CONSTANT inside the row_number window —
    # every row in the group would tie and the per-group pick turns
    # arbitrary, silently (same guard as WITH TIES; found r12g while
    # auditing the NULLS-LAST pass)
    for part in _split_args(_mask_literals(order)):
        if re.fullmatch(r"(?is)\s*\d+\s*(ASC|DESC)?\s*"
                        r"(NULLS\s+(FIRST|LAST))?\s*", part):
            raise UnsupportedChSql(
                "LIMIT BY / DISTINCT ON with a POSITIONAL sort key "
                "(ORDER BY <ordinal>) is not bridged — a bare integer "
                "is a constant inside the row_number() window; name "
                "the column")
    inner = body[: ob[0]].rstrip()
    guard = f"__rn <= {n}" if off == 0 else f"__rn > {off} AND __rn <= {off + n}"
    return (
        f"SELECT * EXCEPT (__rn) FROM ("
        f"SELECT *, row_number() OVER (PARTITION BY {cols} ORDER BY {order}) "
        f"AS __rn FROM ({inner}) __lb) __lb2 "
        f"WHERE {guard} ORDER BY {order}{final_limit}"
    )


# ---- topK pre-aggregation (the scale path) -----------------------------
# The expression expansion of `topK(k)(x)` / `topKWeighted(k)(x, w)`
# (`_topk_expr`, ch_topk shim) collects EVERY ROW of the group into one
# aggregation state and rescans it per distinct value — exact, O(d·n),
# and OOM-shaped when the group is large (ungrouped over a fact table:
# the whole table funnels into a single array).  This pass restructures
# the enclosing SELECT block so the heavy lifting is a plain two-level
# hash aggregate and the collected array is d-sized (one entry per
# distinct value, weight pre-summed):
#
#   SELECT g, topK(5)(x) AS t, sum(q) AS s FROM tbl WHERE p GROUP BY g
#     ⇒
#   SELECT __gk0 AS g,
#          ch_topk_pre(collect_list(struct(__tk_c AS w, __tk_v AS v)), 5) AS t,
#          sum(__p0) AS s
#   FROM (SELECT g AS __gk0, CAST(x AS STRING) AS __tk_v,
#                count(*) AS __tk_c, sum(q) AS __p0
#         FROM tbl WHERE p GROUP BY g, __tk_v) __tkpre
#   GROUP BY __gk0
#
# Sibling aggregates combine from per-value partials (sum→sum,
# count→sum, min/max→min/max, *If likewise, avg→sum/count).  Results
# are identical to the expression expansion (same string rendering,
# same weight-desc/value-asc tie rule) except that NULL values are now
# skipped on the weighted path too, matching ClickHouse.  Blocks that
# do not fit the supported shape — non-decomposable sibling aggregates,
# DISTINCT, window functions in the SELECT list, positional/rollup
# GROUP BY, LIMIT BY, topK in HAVING/ORDER BY, differing topK argument
# expressions — FALL BACK to the n-sized expansion unchanged: same
# results, original (panel-granularity) cost.


class _PreaggDecline(Exception):
    """Base for block shapes a statement-level aggregate rewrite
    declines (the expression-expansion fallback stays)."""


class _TopkFallback(_PreaggDecline):
    """Internal: block shape unsupported — keep the expression path."""


def _depth_map(sh: str) -> list[int]:
    """Paren depth of each character of a literal-masked string.  An
    opening ``(`` and its matching ``)`` carry their OUTER depth,
    everything between them the inner depth.  Parens inside
    backtick-quoted identifiers do not count."""
    d, out = 0, []
    for c in _mask_idents(sh):
        if c == "(":
            out.append(d)
            d += 1
        elif c == ")":
            d -= 1
            out.append(d)
        else:
            out.append(d)
    return out


def _enclosing_select(sh: str, depths: list[int], pos: int) -> int:
    """Start offset of the SELECT keyword of the query block containing
    ``pos`` (the innermost SELECT reachable without entering a nested
    paren scope), or -1."""
    mind = depths[pos]
    i = pos
    while i >= 0:
        if depths[i] < mind:
            mind = depths[i]
        if (
            sh[i] in "Ss"
            and re.match(r"(?i)SELECT\b", sh[i : i + 7])
            and depths[i] == mind
            and (i == 0 or not (sh[i - 1].isalnum() or sh[i - 1] in "_`"))
        ):
            return i
        i -= 1
    return -1


def _block_end(sh: str, depths: list[int], start: int) -> int:
    """End offset (exclusive) of the query block whose SELECT starts at
    ``start``: the matching close paren, a same-depth set operator
    (UNION/EXCEPT/INTERSECT), or end of string."""
    d0 = depths[start]
    setop = re.compile(r"(?i)\b(UNION|EXCEPT|INTERSECT)\b")
    i, n = start, len(sh)
    while i < n:
        # a close paren carries its OUTER depth (see _depth_map), so
        # the block's own closer is the first `)` at d0 - 1
        if sh[i] == ")" and depths[i] == d0 - 1:
            return i
        if depths[i] == d0:
            m = setop.match(sh, i)
            if m and not (i > 0 and (sh[i - 1].isalnum() or sh[i - 1] in "_`")):
                return i
        i += 1
    return n


def _block_clauses(
    sh: str, depths: list[int], start: int, end: int
) -> dict[str, tuple[int, int]]:
    """Map of clause keyword → (kw_start, kw_end) at the block's own
    depth, for the first occurrence of each clause in [start, end)."""
    d0 = depths[start]
    rx = re.compile(
        r"(?i)\b(FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|WINDOW)\b"
    )
    out: dict[str, tuple[int, int]] = {}
    for m in rx.finditer(sh, start, end):
        if depths[m.start()] != d0:
            continue
        key = re.sub(r"\s+", " ", m.group(1).upper())
        out.setdefault(key, (m.start(), m.end()))
    return out


def _split_item_alias(item: str) -> tuple[str, str | None]:
    """Split a SELECT item into (expression, alias) on a trailing
    depth-0 ``AS alias`` (or None)."""
    sh = _mask_literals(item)
    depths = _depth_map(sh)
    for m in list(re.finditer(r"(?i)\bAS\s+(`[^`]*`|[A-Za-z_]\w*)\s*$", sh))[::-1]:
        if depths[m.start()] == 0:
            return item[: m.start()].rstrip(), item[m.start() :].strip()[2:].strip()
    return item.strip(), None


_TOPK_STD_AGGS = {"sum", "count", "min", "max", "avg"}
_TOPK_IF_AGGS = {"sumIf", "countIf", "minIf", "maxIf"}
#: outer re-combination of a per-value partial
_TOPK_COMBINE = {
    "sum": "sum", "count": "sum", "min": "min", "max": "max",
    "sumIf": "sum", "countIf": "sum", "minIf": "min", "maxIf": "max",
}
#: aggregates the pre-aggregation CANNOT decompose — meeting one in a
#: topK block forces the whole-block fallback (otherwise a mixed item
#: like `sum(a) + anyLast(b)` would decompose only the sum and leave a
#: dangling raw-column reference in the outer query — review r8).
#: Lowercased; covers the CH names this module maps plus their Spark
#: spellings (the scan runs pre-translation, but users paste both).
_TOPK_NONDECOMP = {
    name.lower()
    for name in (
        "uniq", "uniqexact", "uniqcombined", "uniqcombined64", "uniqhll12",
        "uniqtheta", "uniqupto", "approx_count_distinct",
        "quantile", "quantileexact", "quantiletiming", "quantiletdigest",
        "quantiledeterministic", "quantileexactweighted",
        "quantiletimingweighted", "quantiles", "quantilesexact",
        "median", "medianexact", "percentile", "percentile_approx",
        "any", "any_value", "anylast", "anyheavy", "first", "last",
        "first_value", "last_value",
        "argmax", "argmin", "max_by", "min_by", "argmaxif", "argminif",
        "grouparray", "groupuniqarray", "collect_list", "collect_set",
        "avgif", "count_if",
        "stddevpop", "stddevsamp", "varpop", "varsamp", "covarpop",
        "covarsamp", "corr", "stddev", "stddev_pop", "stddev_samp",
        "variance", "var_pop", "var_samp", "covar_pop", "covar_samp",
        "skewness", "kurtosis", "mode", "bool_and", "bool_or",
        "retention", "windowfunnel", "sequencematch", "sequencecount",
        "histogram", "sum_distinct", "count_distinct",
        # round-9e additions: every CH aggregate name newly mapped in
        # this module must also be non-decomposable here, or a mixed
        # topK block half-decomposes into unresolved columns instead
        # of taking the whole-block fallback (review r9e — the same
        # r8 bug class this set exists to prevent)
        "corrstable", "covarpopstable", "covarsampstable",
        "stddevpopstable", "stddevsampstable", "varpopstable",
        "varsampstable", "groupbitand", "groupbitor", "groupbitxor",
        "bit_and", "bit_or", "bit_xor", "skewpop", "kurtpop",
        "sumdistinct", "countdistinct", "avgdistinct", "avgweighted",
        "uniqif", "uniqexactif", "anyif", "anylastif", "grouparrayif",
        "groupuniqarrayif", "medianif", "medianexactif",
        "quantileexactlow", "quantileexacthigh", "entropy",
    )
}


def _scan_agg_calls(text: str) -> list[tuple[str, int, int, str | None, str]]:
    """Outermost aggregate calls in an expression text:
    ``(name, start, end, params_or_None, args_text)``.  ``(SELECT …)``
    subexpressions are skipped (their aggregates belong to the inner
    block); unknown function names are scanned INTO (so aggregates
    nested in scalar wrappers are found), known aggregates are not."""
    sh = _mask_idents(_mask_literals(text))
    ident = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    res: list[tuple[str, int, int, str | None, str]] = []
    i, n = 0, len(text)
    while i < n:
        c = sh[i]
        if c == "(":
            j = i + 1
            while j < n and sh[j] in " \t\n":
                j += 1
            if re.match(r"(?i)SELECT\b", sh[j : j + 7]):
                i = _find_close(text, i) + 1
            else:
                i += 1
            continue
        m = ident.match(sh, i)
        if not m:
            i += 1
            continue
        name = m.group(0)
        j = m.end()
        k = j
        while k < n and sh[k] in " \t\n":
            k += 1
        if k >= n or sh[k] != "(":
            i = j
            continue
        lname = name.lower()
        filter_rx = re.compile(r"(?i)\s*FILTER\s*\(")
        if name in ("topK", "topKWeighted"):
            close = _find_close(text, k)
            k2 = close + 1
            while k2 < n and sh[k2] in " \t\n":
                k2 += 1
            if k2 >= n or sh[k2] != "(":
                raise _TopkFallback("topK without (params)(args) form")
            close2 = _find_close(text, k2)
            if filter_rx.match(sh, close2 + 1):
                raise _TopkFallback("aggregate FILTER clause")
            res.append((name, i, close2 + 1, text[k + 1 : close],
                        text[k2 + 1 : close2]))
            i = close2 + 1
            continue
        if lname in _TOPK_STD_AGGS or name in _TOPK_IF_AGGS:
            close = _find_close(text, k)
            # `sum(q) FILTER (WHERE c)`: decomposing the call would
            # strand the FILTER predicate's raw columns on the outer
            # partial re-combination — keep the whole-block fallback
            if filter_rx.match(sh, close + 1):
                raise _TopkFallback("aggregate FILTER clause")
            res.append((name if name in _TOPK_IF_AGGS else lname,
                        i, close + 1, None, text[k + 1 : close]))
            i = close + 1
            continue
        if lname in _TOPK_NONDECOMP:
            # a mixed item (`sum(a) + anyLast(b)`) must not decompose
            # half-way and leave raw columns dangling in the outer
            # query — force the whole-block expression fallback
            raise _TopkFallback(f"non-decomposable aggregate {name}")
        i = k + 1  # scalar wrapper: scan inside its parens
    return res


def _norm_expr(text: str) -> str:
    """Whitespace-collapsed, case-folded expression key — but string
    LITERALS keep their exact content (case and spacing), so two
    aggregates differing only inside a literal never dedupe to one
    partial (review r8).  Backtick-quoted identifiers keep their
    exact content too."""
    out, last = [], 0
    m = _QUOTE_RX.search(text)
    while m is not None:
        j = _find_partner(text, m.start())
        end = len(text) if j < 0 else j + 1
        out += [re.sub(r"\s+", " ", text[last: m.start()].lower()),
                text[m.start(): end]]
        last = end
        m = _QUOTE_RX.search(text, end)
    out.append(re.sub(r"\s+", " ", text[last:].lower()))
    return "".join(out).strip()


def _in_literal_flags(text: str) -> list[bool]:
    """Per-character flag: is this position inside (or the closing
    quote of) a quoted span — a string literal or a backtick-quoted
    identifier?  The OPENING quote and everything before it are
    False, so a match may START at any position outside a span."""
    flags = [False] * len(text)
    m = _QUOTE_RX.search(text)
    while m is not None:
        j = _find_partner(text, m.start())
        end = len(text) if j < 0 else j + 1
        flags[m.start() + 1: end] = [True] * (end - m.start() - 1)
        m = _QUOTE_RX.search(text, end)
    return flags


def _key_sub(text: str, keys: list[tuple[str, str]]) -> str:
    """Replace occurrences of each group-key expression with its
    ``__gk{i}`` alias in ``text`` (longest key first; identifier keys
    word-bounded, expression keys by exact text).  Matches never START
    inside a string literal, but an expression key may itself CONTAIN
    literals (``concat(g, '-')``) — hence exact-text matching on the
    original, literal-anchored by position (review r8, second pass)."""
    for raw, alias in sorted(keys, key=lambda kv: -len(kv[0])):
        if re.match(r"^[A-Za-z_][\w.]*$", raw):
            rx = re.compile(rf"(?<![\w.`$]){re.escape(raw)}(?![\w.`(])")
            text = _sub_masked(rx, alias, text)
            continue
        flags = _in_literal_flags(text)
        out, start = [], 0
        while True:
            pos = text.find(raw, start)
            if pos < 0:
                break
            if flags[pos]:
                out.append(text[start : pos + 1])
                start = pos + 1
                continue
            out.append(text[start:pos])
            out.append(alias)
            start = pos + len(raw)
        out.append(text[start:])
        text = "".join(out)
    return text


def _rewrite_topk_block(sql: str, sh: str, depths: list[int],
                        bs: int, be: int) -> str:
    """Rewrite the query block sql[bs:be] into the pre-aggregated
    two-level form; raises :class:`_TopkFallback` when the block shape
    is unsupported."""
    d0 = depths[bs]
    cl = _block_clauses(sh, depths, bs, be)
    if "WINDOW" in cl or "FROM" not in cl:
        raise _TopkFallback("WINDOW clause / missing FROM")
    if "LIMIT" in cl and re.search(r"(?i)\bBY\b",
                                   sh[cl["LIMIT"][1] : be]):
        raise _TopkFallback("LIMIT BY block")
    sel_start = bs + len("SELECT")
    if re.match(r"(?is)\s*DISTINCT\b", sh[sel_start : cl["FROM"][0]]):
        raise _TopkFallback("SELECT DISTINCT")
    order = [cl[k][0] for k in
             ("FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")
             if k in cl]
    if order != sorted(order):
        raise _TopkFallback("out-of-order clauses")

    def clause_text(key: str, nxt: list[str]) -> str:
        if key not in cl:
            return ""
        s = cl[key][1]
        e = min([cl[k][0] for k in nxt if k in cl] + [be])
        return sql[s:e].strip()

    select_text = sql[sel_start : cl["FROM"][0]]
    source_start = cl["FROM"][0]
    source_end = min([cl[k][0] for k in
                      ("GROUP BY", "HAVING", "ORDER BY", "LIMIT")
                      if k in cl] + [be])
    source_text = sql[source_start:source_end].rstrip()
    group_text = clause_text("GROUP BY", ["HAVING", "ORDER BY", "LIMIT"])
    having_text = clause_text("HAVING", ["ORDER BY", "LIMIT"])
    order_text = clause_text("ORDER BY", ["LIMIT"])
    limit_text = clause_text("LIMIT", [])
    if re.search(r"(?i)\b(topK|topKWeighted)\s*\(",
                 _mask_literals(having_text + " " + order_text)):
        raise _TopkFallback("topK outside the SELECT list")
    if re.search(r"(?i)\bOVER\s*\(", _mask_literals(select_text)):
        raise _TopkFallback("window function in the SELECT list")

    items = [_split_item_alias(it)
             for it in _split_args(select_text)]

    # group keys; a key naming a SELECT alias groups by the aliased
    # expression (ClickHouse resolves aliases before columns), unless
    # the alias shadows a column its own expression reads
    item_exprs = {
        alias.strip("`"): expr for expr, alias in items
        if alias is not None and not _scan_agg_calls(expr)
        and not re.search(rf"(?<![\w.`]){re.escape(alias.strip('`'))}(?!\w)", expr)
    }
    keys: list[tuple[str, str]] = []  # (raw text, __gk alias)
    if group_text:
        if re.search(r"(?i)\b(ROLLUP|CUBE|GROUPING\s+SETS)\b", group_text):
            raise _TopkFallback("grouping-set GROUP BY")
        for g in _split_args(group_text):
            if re.match(r"^\d+$", g):
                raise _TopkFallback("positional GROUP BY")
            keys.append((item_exprs.get(g.strip("`"), g), f"__gk{len(keys)}"))
    norm_keys = {_norm_expr(r): a for r, a in keys}

    # collect topK signature + partials over SELECT + HAVING + ORDER BY
    topk_x: str | None = None
    weight_cols: dict[str, str] = {}  # normalized weight expr ('' = count) → col
    partials: dict[str, tuple[str, str]] = {}  # norm call → (inner sql, outer expr)

    def topk_outer(name: str, params: str, args_text: str) -> str:
        nonlocal topk_x
        k = params.strip()
        if not k.isdigit():
            raise _TopkFallback("non-literal topK parameter")
        args = _split_args(args_text)
        if re.match(r"(?i)^\s*DISTINCT\b", args_text):
            raise _TopkFallback("DISTINCT inside topK")
        if name == "topK":
            if len(args) != 1:
                raise _TopkFallback("topK arity")
            x, w = args[0], None
        else:
            if len(args) != 2:
                raise _TopkFallback("topKWeighted arity")
            x, w = args[0], args[1]
        if topk_x is None:
            topk_x = x
        elif _norm_expr(topk_x) != _norm_expr(x):
            raise _TopkFallback("differing topK argument expressions")
        wkey = "" if w is None else _norm_expr(w)
        if wkey not in weight_cols:
            weight_cols[wkey] = (
                "__tk_c" if w is None else f"__tk_w{len(weight_cols)}"
            )
            weight_inner[weight_cols[wkey]] = (
                "count(*)" if w is None else f"sum(CAST({w} AS BIGINT))"
            )
        wcol = weight_cols[wkey]
        return (f"ch_topk_pre(collect_list(struct({wcol} AS w, "
                f"__tk_v AS v)), {k})")

    weight_inner: dict[str, str] = {}

    def decompose(name: str, args_text: str) -> str:
        if re.match(r"(?i)^\s*DISTINCT\b", args_text):
            raise _TopkFallback("DISTINCT aggregate")
        norm = f"{name}({_norm_expr(args_text)})"
        if norm in partials:
            return partials[norm][1]
        pid = f"__p{len(partials)}"
        if name == "avg":
            inner = (f"sum(CAST({args_text} AS DOUBLE)) AS {pid}a, "
                     f"count({args_text}) AS {pid}b")
            outer = f"(sum({pid}a) / sum({pid}b))"
        elif name == "count" and args_text.strip() in ("", "*"):
            inner = f"count(*) AS {pid}"
            outer = f"sum({pid})"
        else:
            inner = f"{name}({args_text}) AS {pid}"
            outer = f"{_TOPK_COMBINE[name]}({pid})"
        partials[norm] = (inner, outer)
        return outer

    def rewrite_expr(expr: str) -> tuple[str, bool]:
        """Replace aggregate calls in ``expr``; returns (text, had_agg)."""
        calls = _scan_agg_calls(expr)
        if not calls:
            return expr, False
        out = expr
        for name, s, e, params, args_text in reversed(calls):
            if name in ("topK", "topKWeighted"):
                rep = topk_outer(name, params or "", args_text)
            else:
                rep = decompose(name, args_text)
            out = out[:s] + rep + out[e:]
        return out, True

    out_items: list[str] = []
    key_out_alias: dict[str, str] = {}  # norm key → SELECT output alias
    plain_aliases: dict[str, str] = {}  # alias → original expr (for WHERE inlining)
    for expr, alias in items:
        if alias is not None:
            plain_aliases[alias] = expr
        new_expr, had_agg = rewrite_expr(expr)
        if not had_agg:
            norm = _norm_expr(expr)
            if norm not in norm_keys:
                raise _TopkFallback("non-aggregate item outside GROUP BY")
            gk = norm_keys[norm]
            out_alias = alias or (
                expr.strip() if re.match(r"^[A-Za-z_]\w*$", expr.strip())
                else None
            )
            if out_alias is None:
                raise _TopkFallback("unaliased expression key item")
            out_items.append(f"{gk} AS {out_alias}")
            key_out_alias[norm] = out_alias
            continue
        new_expr = _key_sub(new_expr, keys)
        out_items.append(f"{new_expr} AS {alias}" if alias else new_expr)
    if topk_x is None:
        raise _TopkFallback("no topK call in the SELECT list")

    # HAVING / ORDER BY run above the outer projection: reference a key
    # through its SELECT output alias when it has one (a bare __gk name
    # does not survive the projection), else the __gk grouping alias.
    out_keys = [(raw, key_out_alias.get(_norm_expr(raw), a)) for raw, a in keys]
    having_out = _key_sub(rewrite_expr(having_text)[0], out_keys) \
        if having_text else ""
    order_out = _key_sub(rewrite_expr(order_text)[0], out_keys) \
        if order_text else ""

    # CH-ism: WHERE may reference SELECT aliases — inline them into the
    # inner query's WHERE (aggregate-bearing aliases cannot legally
    # appear there, so inlining the raw expression is always sound).
    # Replacement is bounded to the WHERE clause's own span: an alias
    # colliding with a table/column name in FROM/JOIN/ON must stay
    # untouched (self-review r8).
    if "WHERE" in cl and plain_aliases:
        w_off = cl["WHERE"][1] - source_start  # cond text starts here
        head, cond = source_text[:w_off], source_text[w_off:]
        for alias, expr in plain_aliases.items():
            if _scan_agg_calls(expr):
                continue
            cond = _sub_masked(
                re.compile(rf"(?<![\w.`$]){re.escape(alias)}(?![\w.`(])"),
                f"({expr})", cond,
            )
        source_text = head + cond

    inner_items = [f"{raw} AS {a}" for raw, a in keys]
    inner_items.append(f"CAST({topk_x} AS STRING) AS __tk_v")
    inner_items += [f"{weight_inner[c]} AS {c}" for c in weight_inner]
    inner_items += [inner for inner, _ in partials.values()]
    inner_group = ", ".join([raw for raw, _ in keys] + ["__tk_v"])
    inner_sql = (f"SELECT {', '.join(inner_items)} {source_text} "
                 f"GROUP BY {inner_group}")

    outer = [f"SELECT {', '.join(out_items)} FROM ({inner_sql}) __tkpre"]
    if keys:
        outer.append("GROUP BY " + ", ".join(a for _, a in keys))
    if having_out:
        outer.append("HAVING " + having_out)
    if order_out:
        outer.append("ORDER BY " + order_out)
    if limit_text:
        outer.append("LIMIT " + limit_text)
    return sql[:bs] + " ".join(outer) + sql[be:]


def _topk_fallback_notice(
    sh: str, depths: list[int], bs: int, be: int, reason: str,
    strict_scale: bool,
) -> None:
    """Warn (or raise under ``strict_scale``) that a block keeps the
    n-sized ``collect_list`` expansion, naming the unsupported
    construct.  The ungrouped form is the measured 100×-scale hazard
    (SCALE.md round 8: 332 s vs 3.5 s at 10M rows), so it gets the
    louder message."""
    import warnings

    d0 = depths[bs] if 0 <= bs < len(depths) else 0
    grouped = any(
        depths[g.start()] == d0
        for g in re.compile(r"(?i)\bGROUP\s+BY\b").finditer(sh, max(bs, 0), be)
    )
    msg = (
        f"topK pre-aggregation rewrite declined this block ({reason}); "
        "keeping the collect_list expression expansion with O(n)-sized "
        "aggregation state"
        + (
            ""
            if grouped
            else " — UNGROUPED: state is one entry per input row on a "
            "single reducer, measured 95x slower at 10M rows and "
            "OOM-shaped beyond (SCALE.md)"
        )
    )
    if strict_scale:
        raise UnsupportedChSql(msg)
    warnings.warn(msg, TopkFallbackWarning, stacklevel=6)


#: tokens that end an ORDER BY key list at the clause's own depth.
#: Frame starters (ROWS/RANGE/GROUPS) and WINDOW only terminate with
#: their grammar lookahead — a COLUMN named `rows` after ORDER BY is
#: a sort key, not a frame (review r12g)
_ORDER_END_RX = (r"(?i)\b(?:(?:LIMIT|SETTINGS|FORMAT|INTERPOLATE|"
                 r"UNION|EXCEPT|INTERSECT|INTO)\b"
                 # ANSI pagination tails terminate the key list too —
                 # OFFSET/FETCH take a count, so the grammar lookahead
                 # keeps a COLUMN named `offset` a sort key (r12l)
                 r"|(?:OFFSET|FETCH\s+(?:FIRST|NEXT))\s+\d"
                 r"|(?:ROWS|RANGE|GROUPS)\s+(?:BETWEEN|UNBOUNDED|"
                 r"CURRENT|\d)"
                 r"|WINDOW\s+[A-Za-z_]\w*\s+AS\b)")


def _order_by_nulls_last(sql: str) -> str:
    """Append ``NULLS LAST`` to every ORDER BY sort key (statement
    level AND inside OVER clauses) that doesn't carry an explicit
    NULLS modifier: ClickHouse's default places NULLs last in both
    sort directions where Spark's ASC default is NULLS FIRST — a
    silent-value difference for every ORDER-BY-driven pick over a
    NULL-bearing key.  NaN deviation (documented in the module
    docstring): CH presents values → NaN → NULL in BOTH directions;
    Spark treats NaN as the greatest value, so this pass aligns ASC
    exactly but a DESC float key presents NaN FIRST here."""
    out: list[str] = []
    pos = 0
    sh = _mask_idents(_mask_literals(sql))
    depths = _depth_map(sh)
    end_rx = re.compile(_ORDER_END_RX)
    for m in re.finditer(r"(?i)\bORDER\s+BY\b", sh):
        if m.start() < pos:
            continue  # inside a previously processed key list
        d0 = depths[m.end() - 1]
        # key list runs to the first same-depth terminator keyword, a
        # paren closing BELOW the clause's depth, or end of string
        j = m.end()
        end = len(sql)
        while j < len(sh):
            if sh[j] == ")" and depths[j] < d0:
                end = j
                break
            if depths[j] == d0:
                km = end_rx.match(sh, j)
                if km and (j == 0 or not (sh[j - 1].isalnum()
                                          or sh[j - 1] in "_`")):
                    end = j
                    break
            j += 1
        keys_sh = sh[m.end(): end]
        # split on same-depth commas (relative depth 0 within the list)
        parts, last = [], 0
        for k, ch in enumerate(keys_sh):
            if ch == "," and depths[m.end() + k] == d0:
                parts.append((last, k))
                last = k + 1
        parts.append((last, len(keys_sh)))
        new_keys = []
        for a, b in parts:
            key_sql = sql[m.end() + a: m.end() + b]
            key_sh = keys_sh[a:b]
            if re.search(r"(?i)\bNULLS\s+(FIRST|LAST)\s*$",
                         key_sh.rstrip()):
                new_keys.append(key_sql)
            elif not key_sql.strip():
                new_keys.append(key_sql)  # malformed; leave for Spark
            else:
                trail = len(key_sql) - len(key_sql.rstrip())
                body = key_sql.rstrip()
                new_keys.append(
                    body + " NULLS LAST" + (key_sql[len(body):]
                                            if trail else ""))
        out.append(sql[pos: m.end()])
        out.append(",".join(new_keys))
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def _quantified_lhs_span(sh: str, end: int) -> tuple[int, int] | None:
    """Span of the comparison's LEFT operand ending at ``end``
    (exclusive): a qualified identifier, number, masked literal,
    function call, or balanced-paren expression.  None when the
    operand shape is not one of those."""
    i = end - 1
    while i >= 0 and sh[i] in " \t\n":
        i -= 1
    if i < 0:
        return None
    if sh[i] == ")":
        j = _find_partner(sh, i)
        if j < 0:
            return None
        k = j - 1
        while k >= 0 and (sh[k].isalnum() or sh[k] in "_."):
            k -= 1
        return (k + 1, i + 1)
    if sh[i] == "'":
        j = sh.rfind("'", 0, i)
        return None if j < 0 else (j, i + 1)
    k = i
    while k >= 0 and (sh[k].isalnum() or sh[k] in "_."):
        k -= 1
    return None if k == i else (k + 1, i + 1)


_QUANT_BOUNDARY_WORDS = {
    "select", "where", "and", "or", "not", "when", "then", "else",
    "on", "having", "by", "in", "all", "distinct", "as", "case",
}


def _quantified_subqueries(sql: str) -> str:
    """ANSI quantified comparisons — ``x > ANY (SELECT …)``, ``x <=
    ALL (SELECT …)`` — which ClickHouse accepts but Spark 4 does not
    parse (VERDICT r11 item 6).  Rewritten exactly, including the
    ANSI empty-set and NULL cases (pinned vs DuckDB):

    - every form becomes a CASE over scalar subqueries: empty set →
      FALSE (ANY) / TRUE (ALL); NULL left operand → NULL; decided by
      the extreme non-NULL value (min for ``> ANY``/``< ALL`` sides,
      max for the duals) or, for ``= ANY``/``!= ALL``, a MEMBERSHIP
      count (deliberately NOT Spark's IN/NOT IN — their
      projection-context ListQuery answers FALSE where ANSI answers
      NULL); undecided with NULLs in the set → NULL; else the
      quantifier's default;
    - ``= ALL`` / ``!= ANY`` ride the same CASE with a compound
      min/max equality test.

    The subquery is spliced into up to three scalar subqueries —
    fine for the filter-style sets these appear over; a left operand
    that is not a simple column/literal/call/paren expression raises
    by name (parenthesize it) rather than risking a precedence
    misparse."""
    for _ in range(64):
        sh = _mask_literals(sql)
        matches = list(re.finditer(
            r"(>=|<=|<>|!=|=|>|<)\s*(?i:(ANY|ALL))\s*\(", sh))
        hit = None
        for m in reversed(matches):
            inner_start = m.end()
            close = _find_close(sh, m.end() - 1)
            if close < 0:
                continue
            # direct SELECT/WITH only: ANY((SELECT …)) — extra parens
            # — is CH's any() AGGREGATE over a scalar subquery, not
            # the quantifier
            if re.match(r"(?is)\s*(SELECT|WITH)\b",
                        sh[inner_start:close]):
                hit = (m, close)
                break
        if hit is None:
            return sql
        m, close = hit
        op = m.group(1)
        quant = m.group(2).upper()
        sub = sql[m.end(): close]
        lhs = _quantified_lhs_span(sh, m.start())
        if lhs is None:
            raise UnsupportedChSql(
                f"{op} {quant} (SELECT …): the left operand shape is "
                "not recognized — parenthesize it, e.g. "
                f"(expr) {op} {quant} (…)")
        ls, le = lhs
        # the operand must be a whole comparison side: reject when an
        # arithmetic/concat operator directly precedes it (a + b >
        # ANY(…) would otherwise silently rebind to a + (b > ANY(…)))
        p = ls - 1
        while p >= 0 and sh[p] in " \t\n":
            p -= 1
        if p >= 0 and (sh[p] in "+-*/%|&^:" or sh[p] in "=<>!"):
            raise UnsupportedChSql(
                f"{op} {quant} (SELECT …) with a compound left "
                "operand — parenthesize the whole left side: "
                f"(a + b) {op} {quant} (…)")
        if p >= 0 and (sh[p].isalnum() or sh[p] == "_"):
            k = p
            while k >= 0 and (sh[k].isalnum() or sh[k] == "_"):
                k -= 1
            if sh[k + 1: p + 1].lower() not in _QUANT_BOUNDARY_WORDS:
                raise UnsupportedChSql(
                    f"{op} {quant} (SELECT …) with a compound left "
                    "operand — parenthesize the whole left side")
        # a BARE paren group with a top-level comma is a TUPLE operand
        # ((a, b) = ANY (SELECT x, y)): the rewrite's single-column
        # subquery aliasing cannot express it and would die with an
        # arity mismatch; CH's tuple-quantifier NULL semantics are
        # unpinned here, so raise by name (r13, VERDICT r12 item 6).
        # A function call (`greatest(a, b)`) starts with its callee
        # identifier, not "(", and stays in the subset.
        if sh[ls] == "(" and len(_split_args(sh[ls + 1: le - 1])) > 1:
            raise UnsupportedChSql(
                f"tuple left operand in {op} {quant} (SELECT …) — "
                "multi-column quantified comparisons are not "
                "bridged; for membership use the tuple-IN form "
                "((a, b) IN (SELECT x, y …)), which is supported")
        L = f"({sql[ls:le]})"
        if re.search(r"(?i)\b(rand\w*|generateUUIDv4)\s*\(",
                     sql[ls:le]):
            raise UnsupportedChSql(
                f"{op} {quant} (SELECT …) with a nondeterministic "
                "left operand: the rewrite references it twice")
        cnt = f"(SELECT count(*) FROM ({sub}) AS __qc)"
        nulls = (f"(SELECT count(*) - count(__qv) FROM ({sub})"
                 f" AS __qn(__qv))")
        if op in ("=", "!=", "<>"):
            # NOT mapped to Spark's IN/NOT IN: its projection-context
            # ListQuery answers FALSE where ANSI answers NULL
            # (5 IN (SELECT NULL) -> False; pinned vs DuckDB instead).
            # = ANY / != ALL are decided TRUE/FALSE by MEMBERSHIP of
            # L; = ALL / != ANY by some non-NULL value differing from
            # L, i.e. NOT(min = L = max).
            if (op == "=") == (quant == "ANY"):
                # membership via IN, NOT a count-subquery filtered on
                # L: that spelling turns an UNCORRELATED user subquery
                # into a correlated one, and Spark's decorrelation
                # breaks (SCALAR_SUBQUERY_TOO_MANY_ROWS at run time)
                # when L's defining expression itself carries scalar
                # subqueries — r13 fuzz seed 1307/28 (nested
                # quantified splices).  IN's projection-context
                # NULL→FALSE coercion is immaterial here: the decided
                # branch only fires on TRUE, and the nulls-count
                # branch right after answers the ANSI NULL.
                decided = (f"{L} IN (SELECT __qv FROM ({sub})"
                           f" AS __qm(__qv))")
            else:
                decided = (
                    f"NOT ({L} = (SELECT min(__qv) FROM ({sub})"
                    f" AS __qa(__qv)) AND {L} = (SELECT max(__qv)"
                    f" FROM ({sub}) AS __qb(__qv)))")
            hit_val = "TRUE" if quant == "ANY" else "FALSE"
        else:
            agg = ("min" if (op in (">", ">=")) == (quant == "ANY")
                   else "max")
            ext = f"(SELECT {agg}(__qv) FROM ({sub}) AS __qa(__qv))"
            if quant == "ANY":
                decided = f"{L} {op} {ext}"
                hit_val = "TRUE"
            else:
                decided = f"NOT ({L} {op} {ext})"
                hit_val = "FALSE"
        # empty set and the undecided tail share the quantifier's
        # default: FALSE for ANY (no witness), TRUE for ALL (vacuous)
        default_val = "FALSE" if quant == "ANY" else "TRUE"
        repl = (
            f"(CASE WHEN {cnt} = 0 THEN {default_val} "
            f"WHEN {L} IS NULL THEN CAST(NULL AS BOOLEAN) "
            f"WHEN {decided} THEN {hit_val} "
            f"WHEN {nulls} > 0 THEN CAST(NULL AS BOOLEAN) "
            f"ELSE {default_val} END)"
        )
        sql = sql[:ls] + repl + sql[close + 1:]
    return sql


def _preagg_driver(sql: str, call_rx: str, rewrite_block,
                   notice, outside_msg: str) -> str:
    """Shared driver for statement-level aggregate rewrites (topK,
    intervalLengthSum): apply ``rewrite_block`` to every query block
    containing a ``call_rx`` call, innermost/rightmost first.  Blocks
    whose shape is unsupported (the rewriter raised
    :class:`_PreaggDecline`) keep the expression expansion — loudly,
    via ``notice(sh, depths, span_start, span_end, reason)``."""
    fallbacks: list[list[int]] = []  # mutable [start, end) spans
    for _ in range(64):  # backstop; each round consumes ≥1 call site
        sh = _mask_literals(sql)
        depths = _depth_map(sh)
        cands = [
            m for m in re.finditer(call_rx, sh)
            if not any(s <= m.start() < e for s, e in fallbacks)
        ]
        if not cands:
            return sql
        m = cands[-1]
        bs = _enclosing_select(sh, depths, m.start())
        if bs < 0:
            notice(sh, depths, m.start(), len(sh), outside_msg)
            fallbacks.append([m.start(), m.end()])
            continue
        be = _block_end(sh, depths, bs)
        if any(s < be and bs < e for s, e in fallbacks):
            # block overlaps an already-fallen-back span: conservative;
            # the inner span's notice already fired for this region
            fallbacks.append([bs, be])
            continue
        try:
            new_sql = rewrite_block(sql, sh, depths, bs, be)
        except _PreaggDecline as exc:
            notice(sh, depths, bs, be, str(exc))
            fallbacks.append([bs, be])
            continue
        delta = len(new_sql) - len(sql)
        for span in fallbacks:
            if span[0] >= be:
                span[0] += delta
                span[1] += delta
        sql = new_sql
    return sql


def _preaggregate_topk(sql: str, strict_scale: bool = False) -> str:
    """Apply :func:`_rewrite_topk_block` to every query block containing
    a ``topK``/``topKWeighted`` call, innermost/rightmost first; blocks
    whose shape is unsupported keep the expression expansion — loudly:
    each declined block emits a :class:`TopkFallbackWarning` naming the
    unsupported construct, or raises :class:`UnsupportedChSql` when
    ``strict_scale`` is set (the fallback's n-sized state is the one
    measured 100×-scale hazard in this module)."""
    return _preagg_driver(
        sql, r"\b(topK|topKWeighted)\s*\(", _rewrite_topk_block,
        lambda sh, depths, a, b, reason: _topk_fallback_notice(
            sh, depths, a, b, reason, strict_scale),
        "topK outside any SELECT block")


class _IlsFallback(_PreaggDecline):
    """Internal: a block shape the intervalLengthSum window rewrite
    does not cover — the sorted-fold expression expansion stays."""


def _ils_fallback_notice(reason: str) -> None:
    import warnings

    warnings.warn(
        f"intervalLengthSum window rewrite declined this block "
        f"({reason}); keeping the sorted-fold expression with "
        "O(intervals-per-group) aggregation state — memory-bound on "
        "multi-million-interval groups (SCALE.md round 11)",
        IlsFoldWarning, stacklevel=7)


def _rewrite_ils_block(sql: str, sh: str, depths: list[int],
                       bs: int, be: int) -> str:
    """Rewrite the query block sql[bs:be] so each
    ``intervalLengthSum(s, e)`` call becomes ``sum(__ilsN)`` over a
    per-row window contribution computed in a wrapped source subquery;
    raises :class:`_IlsFallback` when the block shape is unsupported."""
    d0 = depths[bs]
    cl = _block_clauses(sh, depths, bs, be)
    if "WINDOW" in cl or "FROM" not in cl:
        raise _IlsFallback("WINDOW clause / missing FROM")
    if "LIMIT" in cl and re.search(r"(?i)\bBY\b", sh[cl["LIMIT"][1]: be]):
        raise _IlsFallback("LIMIT BY block")
    sel_start = bs + len("SELECT")
    if re.match(r"(?is)\s*DISTINCT\b", sh[sel_start: cl["FROM"][0]]):
        raise _IlsFallback("SELECT DISTINCT")
    order = [cl[k][0] for k in
             ("FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")
             if k in cl]
    if order != sorted(order):
        raise _IlsFallback("out-of-order clauses")
    if re.search(r"(?i)\bOVER\s*\(",
                 _mask_literals(sql[sel_start: cl["FROM"][0]])):
        raise _IlsFallback("window function in the SELECT list")

    source_start = cl["FROM"][0]
    source_end = min([cl[k][0] for k in
                      ("GROUP BY", "HAVING", "ORDER BY", "LIMIT")
                      if k in cl] + [be])
    source_text = sql[source_start:source_end].rstrip()
    # the wrap flattens the source through SELECT * — a joined or
    # comma'd FROM can collide column names / lose table qualifiers,
    # so those keep the fold (correct, just state-heavy)
    rel_end = (cl["WHERE"][0] if "WHERE" in cl else source_end)
    rel_sh = sh[cl["FROM"][1]: rel_end]
    rel_text = sql[cl["FROM"][1]: rel_end].strip()
    rel_d = depths[cl["FROM"][1]: rel_end]
    if any(ch == "," and d == d0 for ch, d in zip(rel_sh, rel_d)) or any(
        depths[mm.start()] == d0
        for mm in re.compile(r"(?i)\bJOIN\b").finditer(sh, cl["FROM"][1], rel_end)
    ):
        raise _IlsFallback("multi-relation FROM")
    # keep the source's outer name visible so table-qualified
    # references in the block still resolve through the wrap
    am = re.match(
        r"(?is)^(?:[A-Za-z_][\w.]*|\(.*\))\s+(?:AS\s+)?([A-Za-z_]\w*)\s*$",
        rel_text)
    if am:
        alias = am.group(1)
    elif re.match(r"(?is)^[A-Za-z_][\w.]*$", rel_text):
        # bare (possibly schema-qualified) table: Spark exposes the
        # LAST name component as the qualifier (review r12a)
        alias = rel_text.split(".")[-1]
    elif "`" in rel_text:
        raise _IlsFallback("quoted relation name")
    else:
        alias = "__ilsq"

    # group keys → window partition keys (SELECT-item aliases inline)
    group_text = ""
    if "GROUP BY" in cl:
        ge = min([cl[k][0] for k in ("HAVING", "ORDER BY", "LIMIT")
                  if k in cl] + [be])
        group_text = sql[cl["GROUP BY"][1]: ge].strip()
        if re.search(r"(?i)\b(ROLLUP|CUBE|GROUPING\s+SETS)\b",
                     _mask_literals(group_text)):
            raise _IlsFallback("grouping-set GROUP BY")
    aliases = {
        a.lower(): e
        for e, a in (_split_item_alias(it)
                     for it in _split_args(sql[sel_start: cl["FROM"][0]]))
        if a is not None
    }
    keys: list[str] = []
    for g in _split_args(group_text) if group_text else []:
        if re.match(r"^\d+$", g):
            raise _IlsFallback("positional GROUP BY")
        keys.append(aliases.get(g.strip().lower(), g)
                    if re.match(r"^[A-Za-z_]\w*$", g.strip()) else g)

    # call sites belonging to THIS block (nested SELECTs get their own
    # pass), rightmost first so spans stay valid while splicing
    calls: list[tuple[int, int, str]] = []  # (start, end, inner)
    for mm in re.compile(r"\bintervalLengthSum\s*\(").finditer(sh, bs, be):
        if _enclosing_select(sh, depths, mm.start()) != bs:
            continue
        close = _find_close(sh, mm.end() - 1)
        if close < 0:
            raise _IlsFallback("unbalanced parens")
        calls.append((mm.start(), close + 1, sql[mm.end(): close]))
    if not calls:
        raise _IlsFallback("no call at this block's level")
    cols: dict[str, str] = {}   # normalized args → contrib column
    contribs: list[str] = []
    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    for _, _, inner in calls:
        norm = _norm_expr(inner)
        if norm in cols:
            continue
        parts = _split_args(inner)
        if len(parts) != 2:
            raise _IlsFallback("intervalLengthSum arity")
        s0 = f"CAST(({parts[0]}) AS DOUBLE)"
        e0 = f"CAST(({parts[1]}) AS DOUBLE)"
        cover = (f"max(CASE WHEN {s0} IS NOT NULL AND {e0} IS NOT NULL "
                 f"THEN {e0} END) OVER ({part}ORDER BY {s0}, {e0} "
                 f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
        col = f"__ils{len(cols)}"
        cols[norm] = col
        # branch order mirrors the fold exactly (e<=cover checked
        # FIRST so a negative-length interval past the cover answers
        # 0 on both paths)
        contribs.append(
            f"CASE WHEN {s0} IS NULL OR {e0} IS NULL "
            f"THEN CAST(0 AS DOUBLE) "
            f"WHEN {cover} IS NOT NULL AND {e0} <= {cover} "
            f"THEN CAST(0 AS DOUBLE) "
            f"WHEN {cover} IS NULL OR {s0} >= {cover} THEN {e0} - {s0} "
            f"ELSE {e0} - {cover} END AS {col}")

    # assemble: replace call spans and the source span in one pass
    spans = sorted(calls, key=lambda c: c[0])
    out, pos = [], bs
    for cs, ce, inner in spans:
        if cs < source_start:
            out.append(sql[pos:cs])
            out.append(f"sum({cols[_norm_expr(inner)]})")
            pos = ce
    out.append(sql[pos:source_start])
    out.append(f"FROM (SELECT *, {', '.join(contribs)} "
               f"{source_text}) AS {alias} ")
    pos = source_end
    for cs, ce, inner in spans:
        if cs >= source_end:
            out.append(sql[pos:cs])
            out.append(f"sum({cols[_norm_expr(inner)]})")
            pos = ce
    out.append(sql[pos:be])
    return sql[:bs] + "".join(out) + sql[be:]


class _MaxIntFallback(_PreaggDecline):
    """Internal: a block shape the maxIntersections window rewrite
    does not cover — the sorted-fold expression expansion stays."""


def _maxint_fallback_notice(reason: str) -> None:
    import warnings

    warnings.warn(
        f"maxIntersections window rewrite declined this block "
        f"({reason}); keeping the sorted-fold expression with "
        "O(2·intervals-per-group) aggregation state — the fold holds "
        "a group's whole event array in one task (ev31 measured 7 s "
        "vs 0.9 s at sf0.1 on 3 board-sized groups)",
        MaxIntersectionsFoldWarning, stacklevel=7)


_MAXINT_AGG_RX = (
    r"(?i)\b(count|sum|avg|min|max|any|anyLast|argMin|argMax|"
    r"uniq\w*|quantile\w*|median\w*|stddev\w*|var\w*|skew\w*|"
    r"kurt\w*|corr|covar\w*|groupArray\w*|groupUniqArray|topK\w*|"
    r"histogram|entropy|retention|sequence\w*|windowFunnel|"
    r"intervalLengthSum|exponentialMovingAverage|"
    r"largestTriangleThreeBuckets|lttb|first_value|last_value|"
    r"collect_list|collect_set|min_by|max_by)\s*\(")

#: Function names KNOWN to be scalar (row-wise), lowercased — the
#: inverted sibling-aggregate guard for the maxIntersections window
#: rewrite (ADVICE r14 high).  CH's aggregate-combinator grammar
#: (countIf, sumDistinct, anyHeavy, maxSimpleState, …) forms an OPEN
#: set that no blacklist can enumerate, so inside HAVING/ORDER BY —
#: the clauses the select-item whitelist does not reach — any call to
#: a name NOT in this set (nor a scalar shim, nor a call already used
#: inside a GROUP BY key) declines the rewrite and keeps the fold,
#: which is always value-correct.  False negatives here cost only the
#: fold's perf, never correctness.  Deliberately ABSENT (ADVICE r15
#: low): ``arrayJoin`` — CH's row-MULTIPLYING function, not a scalar —
#: and ``arrayReduce`` — scalar per row in CH, but its first argument
#: names an aggregate+combinator, so it declines out of caution.
_MAXINT_SCALAR_OK = frozenset("""
    abs round floor ceil ceiling trunc truncate sign sqrt cbrt exp ln
    log log2 log10 log1p pow power mod pmod modulo intdiv intdivorzero
    plus minus multiply divide negate gcd lcm greatest least
    lower upper lcase ucase length char_length character_length
    lengthutf8 octet_length substring substr mid trim ltrim rtrim
    btrim concat concat_ws replace replaceall replaceone replaceregexpall
    replaceregexpone regexp_replace regexp_extract translate position
    positioncaseinsensitive locate instr startswith endswith startsWith
    endsWith reverse repeat lpad rpad leftpad rightpad format printf
    lowerutf8 upperutf8 splitbychar splitbystring split
    todate todatetime todatetime64 totime tostring toint8 toint16
    toint32 toint64 toint128 toint256 touint8 touint16 touint32
    touint64 tofloat32 tofloat64 todecimal32 todecimal64 todecimal128
    tounixtimestamp fromunixtimestamp parsedatetime
    parsedatetimebesteffort makedate make_date make_timestamp
    tostartofinterval tostartofday tostartofhour tostartofminute
    tostartoffiveminute tostartoffiveminutes tostartoffifteenminutes
    tostartoftenminutes tostartofmonth tostartofquarter tostartofyear
    tostartofweek tomonday tolastdayofmonth date_trunc datetrunc
    date_add date_sub dateadd datesub datediff date_diff timestampadd
    timestampdiff timestamp_seconds unix_timestamp to_timestamp
    to_date from_unixtime adddays addhours addminutes addseconds
    addmonths addquarters addweeks addyears subtractdays subtracthours
    subtractminutes subtractseconds subtractmonths subtractquarters
    subtractweeks subtractyears
    toyear tomonth todayofmonth todayofweek todayofyear tohour
    tominute tosecond toquarter toweek toyyyymm toyyyymmdd
    toyyyymmddhhmmss year month day hour minute second quarter week
    dayofmonth dayofweek dayofyear weekofyear monthname last_day
    next_day weekday dayname
    if multiif iif cast try_cast accuratecast coalesce ifnull nullif
    isnull isnotnull isfinite isinfinite isnan nvl nvl2 assumenotnull
    tonullable nullable
    struct named_struct array map tuple tupleelement element_at
    arrayelement arrayconcat arrayslice arraysort arrayreverse
    arraydistinct has hasany hasall indexof arraycount
    arraysum arraymin arraymax arrayavg size cardinality array_contains
    arrayexists arrayfilter arraymap empty notempty
    cityhash64 siphash64 siphash128 halfmd5 md5 sha1 sha224 sha256
    sha512 xxhash32 xxhash64 xxh3 farmhash64 farmfingerprint64
    javahash hiveHash metrohash64 hex unhex bin unbin crc32 crc32ieee
    crc64 hash murmurhash2_32 murmurhash2_64 murmurhash3_32
    murmurhash3_64 murmurhash3_128
""".lower().split())

_SCALAR_SHIM_NAMES: frozenset = frozenset()  # filled after _SCALAR_SHIMS


def _known_scalar(ident: str) -> bool:
    global _SCALAR_SHIM_NAMES
    if not _SCALAR_SHIM_NAMES:
        _SCALAR_SHIM_NAMES = frozenset(n.lower() for n in _SCALAR_SHIMS)
    low = ident.lower()
    return low in _MAXINT_SCALAR_OK or low in _SCALAR_SHIM_NAMES


def _rewrite_maxint_block(sql: str, sh: str, depths: list[int],
                          bs: int, be: int) -> str:
    """Rewrite the query block sql[bs:be] so
    ``maxIntersections(s, e)`` / ``maxIntersectionsPosition(s, e)``
    plan as a STATELESS window sweep: the source gains a LATERAL VIEW
    exploding each interval into its (start, +1) / (end, −1) events,
    a running ``sum`` window over (position, weight) order computes
    the live count per event, and the calls become plain
    ``max`` / ``max_by`` aggregates.  The explode DOUBLES row
    multiplicity, so (unlike the ILS rewrite) the block must contain
    NO sibling aggregates — every select item is a group key or one
    of the calls; declined shapes keep the fold (values identical,
    state O(events per group))."""
    d0 = depths[bs]
    cl = _block_clauses(sh, depths, bs, be)
    if "WINDOW" in cl or "FROM" not in cl:
        raise _MaxIntFallback("WINDOW clause / missing FROM")
    if "LIMIT" in cl and re.search(r"(?i)\bBY\b", sh[cl["LIMIT"][1]: be]):
        raise _MaxIntFallback("LIMIT BY block")
    sel_start = bs + len("SELECT")
    if re.match(r"(?is)\s*DISTINCT\b", sh[sel_start: cl["FROM"][0]]):
        raise _MaxIntFallback("SELECT DISTINCT")
    order = [cl[k][0] for k in
             ("FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT")
             if k in cl]
    if order != sorted(order):
        raise _MaxIntFallback("out-of-order clauses")
    if re.search(r"(?i)\bOVER\s*\(", _mask_literals(sql[bs:be])):
        raise _MaxIntFallback("window function in the block")

    source_start = cl["FROM"][0]
    source_end = min([cl[k][0] for k in
                      ("GROUP BY", "HAVING", "ORDER BY", "LIMIT")
                      if k in cl] + [be])
    rel_end = (cl["WHERE"][0] if "WHERE" in cl else source_end)
    rel_sh = sh[cl["FROM"][1]: rel_end]
    rel_text = sql[cl["FROM"][1]: rel_end].strip()
    rel_d = depths[cl["FROM"][1]: rel_end]
    if any(ch == "," and d == d0 for ch, d in zip(rel_sh, rel_d)) or any(
        depths[mm.start()] == d0
        for mm in re.compile(r"(?i)\bJOIN\b").finditer(
            sh, cl["FROM"][1], rel_end)
    ):
        raise _MaxIntFallback("multi-relation FROM")
    am = re.match(
        r"(?is)^(?:[A-Za-z_][\w.]*|\(.*\))\s+(?:AS\s+)?([A-Za-z_]\w*)\s*$",
        rel_text)
    if am:
        alias = am.group(1)
    elif re.match(r"(?is)^[A-Za-z_][\w.]*$", rel_text):
        alias = rel_text.split(".")[-1]
    elif "`" in rel_text:
        raise _MaxIntFallback("quoted relation name")
    else:
        alias = "__miq"

    group_text = ""
    if "GROUP BY" in cl:
        ge = min([cl[k][0] for k in ("HAVING", "ORDER BY", "LIMIT")
                  if k in cl] + [be])
        group_text = sql[cl["GROUP BY"][1]: ge].strip()
        if re.search(r"(?i)\b(ROLLUP|CUBE|GROUPING\s+SETS)\b",
                     _mask_literals(group_text)):
            raise _MaxIntFallback("grouping-set GROUP BY")
    keys: list[str] = []
    for g in _split_args(group_text) if group_text else []:
        if re.match(r"^\d+$", g.strip()):
            raise _MaxIntFallback("positional GROUP BY")
        keys.append(g.strip())

    # call sites belonging to THIS block, anywhere in the block text
    call_rx = re.compile(r"\bmaxIntersections(Position)?\s*\(")
    calls: list[tuple[int, int, str, bool]] = []  # (s, e, inner, is_pos)
    for mm in call_rx.finditer(sh, bs, be):
        if _enclosing_select(sh, depths, mm.start()) != bs:
            continue
        close = _find_close(sh, mm.end() - 1)
        if close < 0:
            raise _MaxIntFallback("unbalanced parens")
        calls.append((mm.start(), close + 1,
                      sql[mm.end(): close], bool(mm.group(1))))
    if not calls:
        raise _MaxIntFallback("no call at this block's level")

    # the explode changes row multiplicity: NO sibling aggregates.
    # Check the whole block text with the call spans excised.
    rest = []
    pos = bs
    for cs, ce, _, _ in sorted(calls, key=lambda c: c[0]):
        rest.append(sh[pos:cs])
        pos = ce
    rest.append(sh[pos:be])
    if re.search(_MAXINT_AGG_RX, "".join(rest)):
        raise _MaxIntFallback("sibling aggregate (the explode doubles "
                              "row multiplicity)")
    # INVERTED guard for HAVING/ORDER BY (ADVICE r14 high): the
    # blacklist above names known aggregates, but CH's combinator
    # grammar (countIf, sumDistinct, anyHeavy, …) is an open set and
    # these clauses are the ones the select-item whitelist below does
    # not reach — a countIf evaluated over the exploded rows counts
    # every interval twice, silently.  Any call there whose name is
    # not a known scalar (nor already vetted inside a GROUP BY key)
    # declines the rewrite; the fold is always value-correct.
    ho_start = min([cl[k][0] for k in ("HAVING", "ORDER BY") if k in cl],
                   default=-1)
    if ho_start >= 0:
        ho_end = cl["LIMIT"][0] if "LIMIT" in cl else be
        ho_parts, pos = [], ho_start
        for cs, ce, _, _ in sorted(calls, key=lambda c: c[0]):
            if cs >= ho_start and ce <= ho_end:
                ho_parts.append(sh[pos:cs])
                pos = ce
        ho_parts.append(sh[pos:ho_end])
        key_idents = {m.group(1).lower() for k in keys for m in
                      re.finditer(r"\b([A-Za-z_]\w*)\s*\(", k)}
        for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(", "".join(ho_parts)):
            ident = m.group(1)
            if ident.lower() in key_idents or _known_scalar(ident):
                continue
            raise _MaxIntFallback(
                f"call to {ident!r} in HAVING/ORDER BY is not a known "
                "scalar (open combinator set — the explode would "
                "evaluate an aggregate over doubled rows)")
    # every select item is a group key or one of the calls
    key_norms = {_norm_expr(k) for k in keys}
    for it in _split_args(sql[sel_start: cl["FROM"][0]]):
        expr, _al = _split_item_alias(it)
        if call_rx.match(_mask_literals(expr.strip())):
            continue
        if _norm_expr(expr) not in key_norms:
            raise _MaxIntFallback(
                f"select item {expr.strip()[:40]!r} is neither a "
                "group key nor a maxIntersections call")

    part = f"PARTITION BY {', '.join(keys)} " if keys else ""
    cols: dict[str, int] = {}   # normalized args → index
    ev_cols: list[str] = []
    win_cols: list[str] = []
    pair_exprs: list[tuple[str, str]] = []
    for _, _, inner, _ in calls:
        norm = _norm_expr(inner)
        if norm in cols:
            continue
        parts = _split_args(inner)
        if len(parts) != 2:
            raise _MaxIntFallback("maxIntersections arity")
        k = len(cols)
        cols[norm] = k
        s0 = f"CAST(({parts[0]}) AS DOUBLE)"
        e0 = f"CAST(({parts[1]}) AS DOUBLE)"
        pair_exprs.append((s0, e0))
        ev = (f"CASE WHEN {s0} IS NOT NULL AND {e0} IS NOT NULL THEN"
              f" array(struct({s0} AS p, 1 AS w),"
              f" struct({e0} AS p, -1 AS w)) END")
        ev_cols.append(
            f"LATERAL VIEW OUTER explode({ev}) __mi_lv{k} AS __mi_ev{k}")
        win_cols.append(
            f"sum(__mi_ev{k}.w) OVER ({part}ORDER BY __mi_ev{k}.p,"
            f" __mi_ev{k}.w ROWS UNBOUNDED PRECEDING) AS __mi_c{k}")
        win_cols.append(
            f"row_number() OVER ({part}ORDER BY __mi_ev{k}.p,"
            f" __mi_ev{k}.w) AS __mi_r{k}")
        win_cols.append(f"__mi_ev{k}.p AS __mi_p{k}")
    if len(cols) > 1:
        # two lateral views would CROSS each other's events
        raise _MaxIntFallback("distinct (start, end) argument pairs")

    def repl(inner: str, is_pos: bool) -> str:
        k = cols[_norm_expr(inner)]
        if is_pos:
            return (f"max_by(__mi_p{k}, IF(__mi_c{k} IS NULL, NULL,"
                    f" named_struct('c', __mi_c{k},"
                    f" 'r', -__mi_r{k})))")
        return f"CAST(max(__mi_c{k}) AS BIGINT)"

    where_text = (" " + sql[cl["WHERE"][0]: source_end].rstrip()
                  if "WHERE" in cl else "")
    # r16 (guide §2.5/§2.6): the one-window-per-group sweep serializes
    # each group's whole event stream into a single task — at sf0.1 the
    # 3-board trades table runs its 1.2M-event sort + running sum on 3
    # of 32 cores (measured 3.66 s; ev31 was the pool's worst query).
    # When every group key is a plain column the sweep instead runs as
    # a TWO-LEVEL parallel prefix sum: events are range-bucketed on p
    # (64 buckets from a one-scan global min/max — any deterministic
    # monotone-in-p bucketing preserves the per-group event order, so
    # bounds need no WHERE and stale balance cannot change values), a
    # per-(keys, bucket) window computes LOCAL running counts/row
    # numbers, a per-bucket aggregate reduces each bucket to one
    # candidate row, and a window over the ≤64-row bucket summaries
    # adds the count/row offsets of all earlier buckets.  Global
    # running count = bucket offset + local count; the per-bucket
    # argmax of (c, −r) commutes with adding a constant offset, so
    # max/max_by over bucket candidates equals max/max_by over all
    # events — values are bit-identical (the catalog entry
    # ev31_max_intersections_sql checks them against DuckDB on every
    # Tier-1 run; measured 3.66 s → 1.68 s at introduction).
    # NULL intervals land in the NULL bucket, which sorts first (ASC
    # NULLS FIRST) exactly like NULL positions did in the flat order;
    # NaN positions pin to the last bucket (NaN sorts last).  Non-
    # column group keys keep the flat sweep (outer clauses re-reference
    # the key EXPRESSIONS, which only a SELECT * pass-through serves).
    _ident_rx = re.compile(r"^[A-Za-z_]\w*(\.[A-Za-z_]\w*)?$")
    outs = [k.split(".")[-1] for k in keys]
    parallel_ok = (
        all(_ident_rx.match(k) for k in keys)
        and len(set(o.lower() for o in outs)) == len(outs)
        and not any(o.lower().startswith("__mi_") for o in outs)
    )
    if parallel_ok:
        s0, e0 = pair_exprs[0]
        nb = 64
        key_sel = "".join(f"{k} AS {o}, " for k, o in zip(keys, outs))
        key_ref = "".join(f"{o}, " for o in outs)
        part_out = (f"PARTITION BY {', '.join(outs)} " if outs else "")
        bounds = (
            f"(SELECT named_struct("
            f"'mn', CAST(LEAST(min({s0}), min({e0})) AS DOUBLE),"
            f" 'mx', CAST(GREATEST(max({s0}), max({e0})) AS DOUBLE))"
            f" FROM {rel_text}) AS __mi_b0"
        )
        bkt = (
            f"CASE WHEN __mi_ev0.p IS NULL THEN CAST(NULL AS INT)"
            f" WHEN isnan(__mi_ev0.p) THEN {nb - 1}"
            f" WHEN __mi_b0.mx <= __mi_b0.mn THEN 0"
            f" ELSE LEAST({nb - 1}, GREATEST(0,"
            f" CAST(floor((__mi_ev0.p - __mi_b0.mn) * {nb}.0"
            f" / (__mi_b0.mx - __mi_b0.mn)) AS INT))) END"
        )
        off_frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
        wrap = (
            f"FROM ("
            f"SELECT {key_ref}(__mi_off0 + __mi_lpr0.c) AS __mi_c0,"
            f" (__mi_roff0 + __mi_lpr0.r) AS __mi_r0,"
            f" __mi_lpr0.p AS __mi_p0"
            f" FROM (SELECT {key_ref}__mi_bkt0, __mi_lpr0,"
            f" coalesce(sum(__mi_tot0) OVER ({part_out}ORDER BY __mi_bkt0"
            f" {off_frame}), 0) AS __mi_off0,"
            f" coalesce(sum(__mi_cnt0) OVER ({part_out}ORDER BY __mi_bkt0"
            f" {off_frame}), CAST(0 AS BIGINT)) AS __mi_roff0"
            f" FROM (SELECT {key_ref}__mi_bkt0,"
            f" coalesce(sum(__mi_ev0.w), 0) AS __mi_tot0,"
            f" count(*) AS __mi_cnt0,"
            f" max_by(named_struct('p', __mi_ev0.p, 'c', __mi_lc0,"
            f" 'r', __mi_lr0), IF(__mi_lc0 IS NULL, NULL,"
            f" named_struct('c', __mi_lc0, 'r', -__mi_lr0))) AS __mi_lpr0"
            f" FROM (SELECT {key_ref}__mi_bkt0, __mi_ev0,"
            f" sum(__mi_ev0.w) OVER (PARTITION BY {key_ref}__mi_bkt0"
            f" ORDER BY __mi_ev0.p, __mi_ev0.w ROWS UNBOUNDED PRECEDING)"
            f" AS __mi_lc0,"
            f" row_number() OVER (PARTITION BY {key_ref}__mi_bkt0"
            f" ORDER BY __mi_ev0.p, __mi_ev0.w) AS __mi_lr0"
            f" FROM (SELECT {key_ref}__mi_ev0, {bkt} AS __mi_bkt0"
            f" FROM (SELECT {key_sel}__mi_ev0, {bounds}"
            f" FROM {rel_text} {' '.join(ev_cols)}{where_text}) __mi_q1"
            f") __mi_q2) __mi_q3"
            f" GROUP BY {key_ref}__mi_bkt0) __mi_q4) __mi_q5"
            f") AS {alias} "
        )
    else:
        wrap = (f"FROM (SELECT *, {', '.join(win_cols)}"
                f" FROM {rel_text} {' '.join(ev_cols)}{where_text})"
                f" AS {alias} ")

    out, pos = [], bs
    spans = sorted(calls, key=lambda c: c[0])
    for cs, ce, inner, is_pos in spans:
        if cs < source_start:
            out.append(sql[pos:cs])
            out.append(repl(inner, is_pos))
            pos = ce
    out.append(sql[pos:source_start])
    out.append(wrap)
    pos = source_end
    for cs, ce, inner, is_pos in spans:
        if cs >= source_end:
            out.append(sql[pos:cs])
            out.append(repl(inner, is_pos))
            pos = ce
    out.append(sql[pos:be])
    return sql[:bs] + "".join(out) + sql[be:]


def _preaggregate_maxint(sql: str) -> str:
    """Plan maxIntersections(/Position) as the stateless window sweep
    wherever the block shape allows (r14; the ILS r12 precedent): the
    fold holds a group's whole (position, ±1) event array in ONE task
    — 7 s vs 0.9 s at sf0.1 over 3 board-sized groups, and a memory
    hazard on million-interval groups.  Declined shapes keep the fold
    and emit :class:`MaxIntersectionsFoldWarning`."""
    return _preagg_driver(
        sql, r"\bmaxIntersections(Position)?\s*\(",
        _rewrite_maxint_block,
        lambda sh, depths, a, b, reason: _maxint_fallback_notice(reason),
        "maxIntersections outside any SELECT block")


def _preaggregate_ils(sql: str) -> str:
    """Plan ``intervalLengthSum(start, end)`` as the STATELESS window
    spelling wherever the block shape allows (VERDICT r11 item 3): the
    source is wrapped to compute a per-row merge contribution — the
    running ``max(end)`` cover over (start, end) order within the
    GROUP BY keys — and the call becomes a plain ``sum`` over it.
    Row multiplicity is preserved, so sibling aggregates in the same
    SELECT are untouched.  Declined shapes (multi-relation FROM,
    grouping sets, DISTINCT, WINDOW clause…) keep the sorted-fold
    expression expansion and emit :class:`IlsFoldWarning` — values
    identical, state O(intervals per group)."""
    return _preagg_driver(
        sql, r"\bintervalLengthSum\s*\(", _rewrite_ils_block,
        lambda sh, depths, a, b, reason: _ils_fallback_notice(reason),
        "intervalLengthSum outside any SELECT block")


def _scalar_with(sql: str) -> str:
    """CH's scalar WITH items — ``WITH 100 AS k SELECT x/k …`` and
    ``WITH (SELECT max(t) FROM x) AS m SELECT …`` — have no Spark
    equivalent (Spark WITH is CTE-only).  Inline each scalar item as a
    parenthesized expression at its bare reference sites (masked,
    word-bounded); genuine CTE items (``name AS (SELECT …)``) stay in
    the WITH list.  A reference that is itself a complete SELECT-list
    item (``SELECT k FROM …``) inlines as ``(expr) AS k`` so the
    output column keeps the WITH-item name, matching CH.  One
    statement level; :func:`_recurse_select_blocks` drives subquery
    bodies (r10)."""
    sh = _mask_literals(sql)
    m = re.match(r"(?is)\s*WITH\b", sh)
    if not m:
        return sql
    depths = _depth_map(sh)
    sel = None
    for mm in re.finditer(r"(?i)\bSELECT\b", sh):
        if depths[mm.start()] == 0:
            sel = mm.start()
            break
    if sel is None:
        return sql
    keep: list[str] = []
    scalars: list[tuple[str, str]] = []
    # CTE forms stay: `name AS (…)`, `name(cols) AS (…)`, and the
    # RECURSIVE-prefixed first item (all valid Spark SQL)
    # CTE name: bare identifier, or a backtick/double-quoted token
    # (which may hold spaces — `my cte` is valid Spark SQL)
    cte_rx = re.compile(
        r"(?is)^\s*(?:RECURSIVE\s+)?(?:`[^`]*`|\"[^\"]*\"|[A-Za-z_]\w*)\s*"
        r"(?:\([^()]*\))?\s+AS\s*\("
    )
    for it in _split_args(sql[m.end() : sel]):
        if cte_rx.match(_mask_literals(it)):
            keep.append(it.strip())
            continue
        expr, alias = _split_item_alias(it)
        if alias is None:
            raise UnsupportedChSql(
                "unsupported WITH item (neither `name AS (SELECT …)` "
                "nor CH's scalar `expr AS name`)"
            )
        scalars.append((alias, expr))
    if not scalars:
        return sql

    clause_rx = re.compile(
        r"(?i)\b(SELECT|FROM|WHERE|GROUP|HAVING|ORDER|LIMIT|UNION|"
        r"WINDOW|BY|ON|USING|DISTRIBUTE|SORT|CLUSTER|LATERAL)\b"
    )

    def inline(text: str, alias: str, expr: str) -> str:
        rx = re.compile(rf"(?<![\w.`$]){re.escape(alias)}(?![\w.`(])")
        shx = _mask_literals(text)
        dx = _depth_map(shx)
        n = len(shx)
        out, last = [], 0
        # SELECT-clause positions whose select list gained the alias —
        # keyed by the governing SELECT's offset, NOT paren depth: two
        # sibling subqueries share a depth but not an alias scope
        aliased_selects: set[int] = set()
        for mm in rx.finditer(shx):
            # `… AS alias` is a DEFINITION site, not a reference
            if re.search(r"(?i)\bAS\s*$", shx[: mm.start()]):
                continue
            # A reference that IS a whole SELECT-list item keeps the
            # WITH-item name as its output column (CH behavior): the
            # nearest same-depth clause keyword before it is SELECT,
            # its left neighbor is the list head or a same-depth
            # comma, and its right neighbor ends the item.
            d = dx[mm.start()]
            kw, sel_pos = None, None
            for cm in clause_rx.finditer(shx, 0, mm.start()):
                if dx[cm.start()] == d:
                    kw = cm.group(1).upper()
                    if kw == "SELECT":
                        sel_pos = cm.start()
            p = mm.start() - 1
            while p >= 0 and shx[p] in " \t\n":
                p -= 1
            q = mm.end()
            while q < n and shx[q] in " \t\n":
                q += 1
            item_end = (
                q >= n
                or (shx[q] == "," and dx[q] == d)
                or shx[q] == ")"
                or clause_rx.match(shx, q) is not None
            )
            bare = False
            if kw == "SELECT":
                prev_ok = p >= 0 and (
                    (shx[p] == "," and dx[p] == d)
                    or re.search(r"(?i)\b(SELECT|DISTINCT)$", shx[: p + 1])
                    is not None
                )
                bare = prev_ok and item_end
            elif kw == "BY" and sel_pos in aliased_selects:
                # GROUP BY d / ORDER BY d after the select list was
                # auto-aliased: keep the NAME — Spark resolves select
                # aliases in both clauses, and re-inlining the
                # expression under an aggregate breaks ORDER BY's
                # structural match against the grouping expression
                prev_ok = p >= 0 and (
                    (shx[p] == "," and dx[p] == d)
                    or re.search(r"(?i)\bBY$", shx[: p + 1]) is not None
                )
                if prev_ok and item_end:
                    continue  # leave the bare alias reference in place
            out.append(text[last : mm.start()])
            if bare:
                out.append(f"({expr}) AS {alias}")
                aliased_selects.add(sel_pos)
            else:
                out.append(f"({expr})")
            last = mm.end()
        out.append(text[last:])
        return "".join(out)

    rest = sql[sel:]
    for idx, (alias, expr) in enumerate(scalars):
        rest = inline(rest, alias, expr)
        keep = [inline(k, alias, expr) for k in keep]
        # CH scalar items may reference PRECEDING ones (`10 AS a,
        # a*2 AS b`): propagate into the remaining scalars' expressions
        for j in range(idx + 1, len(scalars)):
            a2, e2 = scalars[j]
            scalars[j] = (a2, inline(e2, alias, expr))
    head = f"WITH {', '.join(keep)} " if keep else ""
    return head + rest


def _apply_table_map(sql: str, table_map: Mapping[str, str]) -> str:
    """Every replacement is masked (string literals untouched) and the
    bare-name pass excludes dot-preceded occurrences, so an
    already-substituted qualified destination (``cat.trades``) is
    never re-rewritten into ``cat.cat.trades`` (review r8)."""
    for src, dst in table_map.items():
        if "." in src:
            db, tbl = src.split(".", 1)
            dbe, tble = re.escape(db), re.escape(tbl)
            for pat in (
                rf'"{dbe}"\s*\.\s*"{tble}"',
                rf'"{dbe}"\s*\.\s*{tble}\b',
                rf'\b{dbe}\s*\.\s*"{tble}"',
                rf"\b{dbe}\s*\.\s*{tble}\b",
            ):
                sql = _sub_masked(re.compile(pat), dst, sql)
            # bare table name as a column-qualifier prefix (`t.col`)
            sql = _sub_masked(
                re.compile(rf"(?<![\w.`]){tble}\b(?!\s*\()"), dst, sql
            )
        else:
            sql = _sub_masked(
                re.compile(rf"(?<![\w.`]){re.escape(src)}\b(?!\s*\()"),
                dst, sql,
            )
    return sql


def _operand_start(sh: str, depths: list[int], pos: int) -> int:
    """Start of the left operand of the predicate whose operator begins
    at ``pos``: the first word after a same-depth clause keyword or
    boolean connective (:data:`_OPERAND_STOP`), comma, lambda arrow or
    enclosing ``(``."""
    d0, i = depths[pos], pos - 1
    while i >= 0:
        if depths[i] < d0 or (depths[i] == d0 and (
                sh[i] == "," or sh[i - 1: i + 1] == "->")):
            break
        if (depths[i] == d0 and (sh[i].isalnum() or sh[i] == "_")
                and (i == 0 or not (sh[i - 1].isalnum() or sh[i - 1] in "_`"))):
            m = re.match(r"\w+", sh[i:])
            if m.group(0).lower() in _OPERAND_STOP:
                i += m.end() - 1
                break
        i -= 1
    return len(sh) - len(sh[i + 1:].lstrip())


def _brackets_to_parens(sql: str) -> str:
    """CH ``IN [a, b]`` / ``NOT IN [a, b]`` → parenthesized lists.  An
    empty list (a multi-value template variable with no values) is
    ClickHouse's empty-set membership: ``x IN []`` is ``false`` and
    ``x NOT IN []`` is ``true``, whatever ``x`` holds."""
    while True:
        sh = _mask_idents(_mask_literals(sql))
        m = re.search(r"(?i)\bIN\s*\[", sh)
        if not m:
            return sql
        o = m.end() - 1
        close = _find_partner(sql, o)
        if close < 0:
            raise UnsupportedChSql("unbalanced brackets in IN [...]")
        if sql[o + 1: close].strip():
            sql = sql[:o] + "(" + sql[o + 1: close] + ")" + sql[close + 1:]
            continue
        neg = re.search(r"(?i)\bNOT\s+$", sh[: m.start()])
        op = neg.start() if neg else m.start()
        start = _operand_start(sh, _depth_map(sh), op)
        sql = sql[:start] + ("true" if neg else "false") + sql[close + 1:]


#: words whose trailing position marks an EXPRESSION context — a `[`
#: after one of these starts an array literal, not a subscript
_BRACKET_KEYWORDS = frozenset(
    "in and or not when then else as on where select having by like "
    "ilike rlike regexp between is union all distinct case from values "
    "limit offset group order join using interval return".split()
)

#: words a predicate's left operand cannot extend past, scanning back
#: from its ``IN``: the clause keywords and connectives above, without
#: the operators that can sit inside the operand, plus the clauses only
#: a condition opens
_OPERAND_STOP = (_BRACKET_KEYWORDS - frozenset(
    "in is like ilike rlike regexp between interval case".split())
) | frozenset(["prewhere", "qualify"])


def _bracket_expressions(sql: str) -> str:
    """CH bracket expressions outside ``IN [...]`` (which
    :func:`_brackets_to_parens` already handled):

    - array LITERALS ``[1, 2, 3]`` → ``array(1, 2, 3)`` (Spark's
      parser rejects bare brackets in expression position);
    - SUBSCRIPTS ``arr[i]`` / ``m['k']`` / ``f(x)[i]`` →
      ``try_element_at(base, i)`` — CH indexing is 1-BASED (and -1 =
      last), while Spark's native ``x[i]`` is 0-based, so passing the
      bracket through would silently shift every element access by
      one; ``try_element_at`` is 1-based/negative-aware for arrays and
      key-based for maps, matching CH for both, and returns NULL on an
      out-of-range index where the plain form would throw under ANSI
      mode on data-dependent indexes (review r9).  Deviation: CH
      returns the element type's DEFAULT value (0 / '') out of range,
      and a literal ``[0]`` index still errors at runtime (invalid in
      CH too, which answers it with the default value).

    A ``[`` is a subscript iff the previous non-space char ends an
    identifier chain (that is not an expression keyword), a
    backtick-quoted identifier, a ``)``, or a ``]``; anything else
    opens a literal.  Runs AFTER ``_dquotes_to_backticks`` so CH
    ``"quoted ident"[1]`` subscripts are recognized.  A subscript
    directly on ``CASE … END`` raises (wrap the CASE in parentheses) —
    treating ``END`` as a base would splice the statement corruptly.
    One bracket rewrites per pass, innermost-last; fixpoint-bounded."""
    for _ in range(256):  # each pass consumes exactly one bracket
        sh = _mask_idents(_mask_literals(sql))
        b = sh.find("[")
        if b < 0:
            return sql
        close = _find_partner(sh, b)
        if close < 0:
            raise UnsupportedChSql("unbalanced [ ] in expression")
        p = b - 1
        while p >= 0 and sh[p] in " \t\n":
            p -= 1
        base_start = None
        if p >= 0 and (sh[p].isalnum() or sh[p] in "_`"):
            # walk back over a dotted identifier chain whose segments
            # may be backtick-quoted (`my col`, db.`t 2`) — quoted
            # content can hold spaces, so jump to the opening backtick
            s = p
            while s >= 0:
                if sh[s] == "`":
                    o = sh.rfind("`", 0, s)
                    if o < 0:
                        raise UnsupportedChSql(
                            "unbalanced backticks before [ ]")
                    s = o - 1
                elif sh[s].isalnum() or sh[s] in "_.$":
                    s -= 1
                else:
                    break
            seg = sql[s + 1 : p + 1].split(".")[-1]
            word = seg.strip("`").lower() if not seg.startswith("`") else ""
            if word == "end":
                raise UnsupportedChSql(
                    "subscript directly on CASE … END — wrap the CASE "
                    "in parentheses: (CASE … END)[i]"
                )
            if seg.startswith("`") or word not in _BRACKET_KEYWORDS:
                base_start = s + 1
        elif p >= 0 and sh[p] in ")]":
            # walk back over the balanced ()/[] group, then a possible
            # function-name identifier chain in front of it
            s = _find_partner(sh, p)
            if s < 0:
                raise UnsupportedChSql("unbalanced parens before [ ]")
            s -= 1
            while s >= 0 and (sh[s].isalnum() or sh[s] in "_.`$"):
                s -= 1
            base_start = s + 1
        if base_start is None:  # literal
            sql = (sql[:b] + "array(" + sql[b + 1 : close] + ")"
                   + sql[close + 1 :])
        else:
            base = sql[base_start:b].strip()
            idx = sql[b + 1 : close].strip()
            if not idx:
                raise UnsupportedChSql("empty subscript [ ]")
            sql = (sql[:base_start]
                   + f"try_element_at({base}, {idx})" + sql[close + 1 :])
    raise UnsupportedChSql("too many bracket expressions (>256)")


_DQUOTE_RX = re.compile("['`\"]")


def _dquotes_to_backticks(sql: str) -> str:
    """CH double-quoted identifiers → Spark backticks (string literals
    and backtick-quoted identifiers pass through untouched)."""
    out, last = [], 0
    m = _DQUOTE_RX.search(sql)
    while m is not None:
        i = m.start()
        if sql[i] == '"':
            j = sql.find('"', i + 1)
            if j < 0:
                raise UnsupportedChSql("unterminated double-quoted identifier")
            out += [sql[last:i], "`" + sql[i + 1: j] + "`"]
            last = j + 1
        else:
            j = _find_partner(sql, i)
            if j < 0:
                break
        m = _DQUOTE_RX.search(sql, j + 1)
    out.append(sql[last:])
    return "".join(out)


# ---- funnel-family aggregate expansions --------------------------------
# CH's parameterized event-chain aggregates rewritten as single Spark
# SQL aggregate expressions (usable anywhere an aggregate is), mirroring
# the engine's DataFrame operators' documented contracts:
#   topK           → functions/topk.py tie rule (-count, value asc)
#   sequenceMatch/Count → functions/seqmatch.py token-string contract
#   windowFunnel   → CH default-mode exact (funnel.window_funnel_ch)
#   retention      → r[0]=flag(c1); r[i]=flag(c1)·flag(c_i)  (CH docs)


def _topk_expr(params: str, args: list[str]) -> str:
    """FALLBACK path only: blocks in the supported shape are rewritten
    by :func:`_preaggregate_topk` into a two-level hash aggregate
    (d-sized state) before this expansion ever runs; this n-sized
    collect_list form survives only for shapes the structural rewrite
    declines (non-decomposable siblings, DISTINCT, window functions…),
    where the group is small by construction of the query."""
    k = params.strip()
    if not k.isdigit():
        raise UnsupportedChSql("topK(k) expects an integer literal parameter")
    if len(args) != 1:
        raise UnsupportedChSql("topK(k)(x) expects exactly one argument")
    # CAST AS STRING: one shim signature covers every input type; the
    # result is the CH value list rendered as strings (tie rule:
    # count desc, then value asc — deterministic, unlike CH).
    return f"ch_topk(collect_list(CAST({args[0]} AS STRING)), {k})"


def _topk_weighted_expr(params: str, args: list[str]) -> str:
    """``topKWeighted(k)(x, w)`` — rank by summed weight; same string
    rendering and (-weight, value asc) tie rule as ``topK``."""
    k = params.strip()
    if not k.isdigit():
        raise UnsupportedChSql("topKWeighted(k) expects an integer literal parameter")
    if len(args) != 2:
        raise UnsupportedChSql("topKWeighted(k)(x, w) expects exactly two arguments")
    return (
        f"ch_topk_weighted(collect_list(struct(CAST({args[0]} AS STRING) AS v, "
        f"CAST({args[1]} AS BIGINT) AS w)), {k})"
    )


def _uniq_upto_expr(params: str, args: list[str]) -> str:
    """``uniqUpTo(N)(x…)`` — CH: exact distinct count while ≤ N, else
    N+1.  Exactly ``least(count(DISTINCT …), N+1)``."""
    nstr = params.strip()
    if not nstr.isdigit():
        raise UnsupportedChSql("uniqUpTo(N) expects an integer literal parameter")
    if not args:
        raise UnsupportedChSql("uniqUpTo(N)(x…) expects at least one argument")
    return (
        f"least(count(DISTINCT {', '.join(args)}), "
        f"CAST({int(nstr) + 1} AS BIGINT))"
    )


def _max_intersections_expr(name: str, args: list[str]) -> str:
    """``maxIntersections(start, end)`` → the maximum number of
    simultaneously overlapping intervals; ``maxIntersectionsPosition``
    → the position where that maximum is FIRST reached (ClickHouse
    AggregateFunctionMaxIntersections.h).  The tie rule IS pinned by
    the public source: events sort as ``std::pair`` (position, weight)
    — lexicographic, so at an equal position the ``-1`` end processes
    before the ``+1`` start ("sort by weight to get deterministic
    result", per the source comment): touching intervals do NOT
    intersect (half-open semantics), and the scan is deterministic —
    no raise needed.

    Construction: one ``collect_list`` of (position, weight) pairs per
    group, sorted, then a linear ``aggregate()`` fold carrying
    (current, max, argmax-position) — integer counting, exact.
    Deviations (documented): positions return as DOUBLE (the fold's
    sort key; CH returns the argument type); empty input answers NULL
    (module-wide Spark empty-aggregate deviation — CH answers 0);
    NULL start/end pairs drop."""
    if len(args) != 2:
        raise UnsupportedChSql(f"{name} expects (start, end) arguments")
    s, e = args
    pair = (f"CASE WHEN ({s}) IS NOT NULL AND ({e}) IS NOT NULL THEN"
            f" array(struct(CAST(({s}) AS DOUBLE) AS p, 1 AS w),"
            f" struct(CAST(({e}) AS DOUBLE) AS p, -1 AS w)) END")
    arr = f"array_sort(flatten(collect_list({pair})))"
    res = "acc.m" if name == "maxIntersections" else "acc.p"
    cast = "CAST({} AS BIGINT)" if name == "maxIntersections" else "{}"
    fold = (
        "aggregate(arr,"
        " named_struct('c', 0, 'm', 0, 'p', CAST(NULL AS DOUBLE)),"
        " (acc, x) -> named_struct("
        "'c', acc.c + x.w,"
        " 'm', IF(acc.c + x.w > acc.m, acc.c + x.w, acc.m),"
        " 'p', IF(acc.c + x.w > acc.m, x.p, acc.p)),"
        f" acc -> {cast.format(res)})")
    null_t = ("CAST(NULL AS BIGINT)" if name == "maxIntersections"
              else "CAST(NULL AS DOUBLE)")
    return (f"element_at(transform(array({arr}), arr ->"
            f" CASE WHEN size(arr) = 0 THEN {null_t}"
            f" ELSE {fold} END), 1)")


def _retention_expr(parts: list[str]) -> str:
    """CH retention state is one held-on-ANY-row flag per condition;
    the result pairs each later flag with the first:
    r[0] = flag_1, r[i] = flag_1 AND flag_i  (CH docs, retention)."""
    if not parts or parts == [""]:
        raise UnsupportedChSql("retention() expects at least one condition")

    def flag(p: str) -> str:
        return f"max(CASE WHEN {_ch_cond(p)} THEN 1 ELSE 0 END)"

    elems = [flag(parts[0])]
    elems += [f"({flag(parts[0])} * {flag(p)})" for p in parts[1:]]
    return "array(" + ", ".join(elems) + ")"


def _seq_expr(name: str, params: str, args: list[str]) -> str:
    """``sequenceMatch('pat')(ts, c1…cn)`` → regex over the per-group
    token string (same construction as seqmatch.sequence_strings, with
    (ts, token) as the deterministic order — the text form has no
    unique order column to pin same-timestamp ties with)."""
    pat = params.strip()
    if not (len(pat) >= 2 and pat[0] == "'" and pat[-1] == "'"):
        raise UnsupportedChSql(f"{name} pattern must be a string literal")
    if len(args) < 2:
        raise UnsupportedChSql(f"{name} expects (timestamp, cond…) arguments")
    if len(args) - 1 > 9:
        # single-character token alphabet (same cap as the DataFrame
        # twin seqmatch._token_col): condition 10 would emit the
        # two-char token '10', which regex '1' falsely matches
        raise UnsupportedChSql(f"{name} supports at most 9 conditions")
    from ..functions.seqmatch import (
        chain_count_fold_sql, parse_chain, translate_pattern,
    )

    ts, conds = args[0], [_ch_cond(c) for c in args[1:]]
    raw_pat = pat[1:-1].replace("''", "'")
    try:
        steps, seps = parse_chain(raw_pat, len(conds))
    except ValueError as e:
        raise UnsupportedChSql(str(e)) from e
    tok = (
        "CASE "
        + " ".join(f"WHEN ({c}) THEN '{i + 1}'" for i, c in enumerate(conds))
        + " END"
    )
    if any(sep["guards"] for sep in seps):
        # time guards (r16): greedy chain fold over the kept-token
        # struct array — same (ts, tok) deterministic order as the
        # regex path's token string (the text form has no unique order
        # column; same-second ties follow that documented pin)
        arr = (
            f"transform(array_sort(collect_list("
            f"CASE WHEN ({tok}) IS NOT NULL THEN "
            f"struct(CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) AS t, "
            f"CAST({tok} AS INT) AS tok) END)), "
            f"(x, i) -> struct(x.t AS t, x.tok AS tok, "
            f"CAST(i AS INT) AS i))"
        )
        cnt = chain_count_fold_sql(steps, seps, arr)
        return (f"(({cnt}) >= 1)" if name == "sequenceMatch"
                else f"CAST(({cnt}) AS BIGINT)")
    regex = translate_pattern(raw_pat, len(conds),
                              lazy=(name == "sequenceCount"))
    s = (
        f"array_join(transform(array_sort(collect_list("
        f"CASE WHEN ({tok}) IS NOT NULL THEN "
        f"struct(CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE) AS t, {tok} AS tok) END)), "
        f"e -> e.tok), '')"
    )
    fn = "regexp_like" if name == "sequenceMatch" else "regexp_count"
    return f"{fn}({s}, '{regex}')"


_LTTB_ARR_T = "array<struct<x:double,y:double>>"


def _lttb_expr(params: str, args: list[str]) -> str:
    """``largestTriangleThreeBuckets(n)(x, y)`` (alias ``lttb``) →
    LTTB chart downsampling (Steinarsson's canonical algorithm, which
    ClickHouse's AggregateFunctionLargestTriangleThreeBuckets
    implements over x-sorted points): keep the first and last points;
    split the middle into n−2 even buckets; per bucket pick the point
    maximizing the triangle area with the PREVIOUSLY selected point
    and the NEXT bucket's average (strict ``>``, first max wins).
    Returns ``array<struct<x, y>>`` (CH: Array(Tuple)).

    Determinism contract: CH sorts by x only, so duplicate x values
    leave the candidate order — and the first-max tie pick — undefined;
    this build RAISES at runtime on duplicate x (same contract as
    sequenceNextNode's tie raise).  n ≥ size keeps all points (sorted);
    NULL (x, y) pairs drop; empty input answers an empty array.  The
    fold is ONE static expression over ``sequence(0, n-3)`` — no
    per-bucket unrolling, no Python; areas/averages are plain IEEE
    mul/sub/div, so a mirror replaying the same fold (the ev32 oracle
    does, via a DuckDB recursive CTE) matches bit-exactly."""
    parts = [p.strip() for p in _split_args(params)]
    if len(parts) != 1 or not parts[0]:
        raise UnsupportedChSql(
            "largestTriangleThreeBuckets expects one bucket-count "
            "parameter")
    try:
        nb = int(parts[0])
    except ValueError:
        raise UnsupportedChSql(
            "largestTriangleThreeBuckets bucket count must be an "
            "integer literal") from None
    if nb < 3:
        raise UnsupportedChSql(
            "largestTriangleThreeBuckets needs at least 3 buckets "
            "(first + last + one selected)")
    if len(args) != 2:
        raise UnsupportedChSql(
            "largestTriangleThreeBuckets expects (x, y) arguments")
    x, y = args
    pair = (f"CASE WHEN ({x}) IS NOT NULL AND ({y}) IS NOT NULL THEN"
            f" struct(CAST(({x}) AS DOUBLE) AS x,"
            f" CAST(({y}) AS DOUBLE) AS y) END")
    arr = f"array_sort(collect_list({pair}))"
    area = ("abs((acc.ax - q2.avx) * (pp.y - acc.ay)"
            " - (acc.ax - pp.x) * (q2.avy - acc.ay))"
            " * CAST(0.5 AS DOUBLE)")
    step = (
        "element_at(transform(array(struct("
        f"(CAST(size(arr) - 2 AS DOUBLE) / CAST({nb - 2} AS DOUBLE))"
        " AS ev)), q0 ->"
        " element_at(transform(array(struct("
        " slice(arr, CAST(floor((i + 1) * q0.ev) AS INT) + 2,"
        " least(CAST(floor((i + 2) * q0.ev) AS INT) + 2,"
        " size(arr) + 1) - (CAST(floor((i + 1) * q0.ev) AS INT) + 2))"
        " AS nxt,"
        " slice(arr, CAST(floor(i * q0.ev) AS INT) + 2,"
        " (CAST(floor((i + 1) * q0.ev) AS INT) + 2)"
        " - (CAST(floor(i * q0.ev) AS INT) + 2)) AS cand)), q1 ->"
        " element_at(transform(array(struct("
        " (aggregate(q1.nxt, CAST(0.0 AS DOUBLE),"
        " (s, pp) -> s + pp.x) / CAST(size(q1.nxt) AS DOUBLE)) AS avx,"
        " (aggregate(q1.nxt, CAST(0.0 AS DOUBLE),"
        " (s, pp) -> s + pp.y) / CAST(size(q1.nxt) AS DOUBLE)) AS avy"
        ")), q2 ->"
        " element_at(transform(array("
        " aggregate(q1.cand,"
        " named_struct('ar', CAST(-1.0 AS DOUBLE),"
        " 'bx', CAST(0.0 AS DOUBLE), 'by', CAST(0.0 AS DOUBLE)),"
        f" (bb, pp) -> IF({area} > bb.ar,"
        f" named_struct('ar', {area}, 'bx', pp.x, 'by', pp.y),"
        " bb))), bst ->"
        " named_struct('ax', bst.bx, 'ay', bst.by,"
        " 'out', concat(acc.out,"
        " array(named_struct('x', bst.bx, 'y', bst.by))))"
        "), 1)), 1)), 1)), 1)")
    sel = (
        f"aggregate(sequence(0, {nb - 3}),"
        " named_struct('ax', element_at(arr, 1).x,"
        " 'ay', element_at(arr, 1).y,"
        " 'out', array(named_struct('x', element_at(arr, 1).x,"
        " 'y', element_at(arr, 1).y))),"
        f" (acc, i) -> {step},"
        " fin -> concat(fin.out,"
        " array(named_struct('x', element_at(arr, size(arr)).x,"
        " 'y', element_at(arr, size(arr)).y))))")
    ties = ("size(arr) !="
            " size(array_distinct(transform(arr, p -> p.x)))")
    msg = ("largestTriangleThreeBuckets: duplicate x values make the"
           " ClickHouse candidate order - and the first-max tie pick -"
           " undefined; deduplicate or sharpen the x key first")
    return (f"element_at(transform(array({arr}), arr ->"
            f" CASE WHEN {ties} THEN"
            f" CAST(raise_error('{msg}') AS {_LTTB_ARR_T})"
            f" WHEN size(arr) <= {nb} THEN arr"
            f" ELSE {sel} END), 1)")


def _ema_expr(params: str, args: list[str]) -> str:
    """``exponentialMovingAverage(x)(value, timeunit)`` → CH's
    exponentially smoothed weighted average (ClickHouse
    ``ExponentiallySmoothedAverage``, src/Common/
    ExponentiallySmoothedCounter.h; docs.clickhouse.com
    aggregate-functions/reference/exponentialmovingaverage): with
    T = latest timeunit, result = Σᵢ vᵢ·2^((tᵢ−T)/x) · (1 − 2^(−1/x))
    — the trailing factor is 1/sumWeights, the infinite-horizon
    normalizer (h=1 → ×0.5, matching the docs table).

    Determinism deviation (documented): CH folds pairs in block/merge
    order, so its float result is association-order-dependent in the
    last ulps; this build folds in SORTED (timeunit, value) order —
    the same mathematical value, bitwise-reproducible across runs and
    partitionings.  Equal-time points add (CH merge does the same),
    so ties need no raise.  NULL value/time pairs drop; empty input
    answers NULL (module-wide Spark empty-aggregate deviation — CH
    answers 0).  Single aggregation, no Python, linear fold."""
    parts = [p.strip() for p in _split_args(params)]
    if len(parts) != 1 or not parts[0]:
        raise UnsupportedChSql(
            "exponentialMovingAverage expects one half-decay parameter")
    try:
        half = float(parts[0])
    except ValueError:
        raise UnsupportedChSql(
            "exponentialMovingAverage half-decay must be a numeric "
            "literal") from None
    # ADVICE r14 low: h=0 divides by zero in the fold's exponent
    # ((acc.t − x.t) / h) → silent NaN/Inf; h<0 inverts the decay.
    # CH itself computes pow(0.5, Δt/h) — h must be a positive finite.
    if not (half > 0) or half == float("inf"):
        raise UnsupportedChSql(
            "exponentialMovingAverage half-decay must be a positive "
            f"finite number, got {parts[0]!r}")
    h = f"CAST({parts[0]} AS DOUBLE)"
    if len(args) != 2:
        raise UnsupportedChSql(
            "exponentialMovingAverage expects (value, timeunit) "
            "arguments")
    v, t = args
    pair = (f"CASE WHEN ({v}) IS NOT NULL AND ({t}) IS NOT NULL THEN"
            f" struct(CAST(({t}) AS DOUBLE) AS t,"
            f" CAST(({v}) AS DOUBLE) AS v) END")
    arr = f"array_sort(collect_list({pair}))"
    two = "CAST(2.0 AS DOUBLE)"
    fold = (
        "aggregate(slice(arr, 2, greatest(size(arr) - 1, 0)),"
        " named_struct('s', element_at(arr, 1).v,"
        " 't', element_at(arr, 1).t),"
        " (acc, x) -> named_struct("
        f"'s', x.v + acc.s * power({two}, (acc.t - x.t) / {h}),"
        " 't', x.t),"
        f" acc -> acc.s * (CAST(1.0 AS DOUBLE)"
        f" - power({two}, CAST(-1.0 AS DOUBLE) / {h})))")
    return (f"element_at(transform(array({arr}), arr ->"
            f" CASE WHEN size(arr) = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE {fold} END), 1)")


def _seq_next_node_expr(params: str, args: list[str]) -> str:
    """``sequenceNextNode(direction, base)(ts, event_col, base_cond,
    event1…eventN)`` → the event-column value of the node right AFTER
    the matched chain, NULL when the chain doesn't match (CH
    AggregateFunctionSequenceNextNode.h; docs.clickhouse.com
    parametric-functions#sequencenextnode).

    ALL SIX valid (direction, base) pairs are supported (r14 second
    phase; CH's factory rejects backward+head and forward+tail).
    Nodes always sort ascending by time (CH ``data.sort()``); the base
    picks the anchor — ``head`` the earliest node, ``tail`` the
    latest, ``first_match``/``last_match`` the first/last node
    satisfying BOTH event1 and base_cond — the direction sets the
    chain's step sign, and the answer is the node one step PAST the
    matched chain (``getNextNodeIndex: base ± events_size``), NULL
    when the chain breaks or runs off either end.

    Determinism contract: CH sorts nodes by timestamp only, so
    duplicate timestamps within a group leave the node order — and
    therefore the answer — undefined (insertion-order dependent).
    This build RAISES at runtime on such a group instead of silently
    picking an order; pre-deduplicate (e.g. argMin per timestamp) or
    sharpen the time key.  Construction mirrors the funnel fold:
    one ``collect_list`` of (t, val, base-flag, match-flags) structs,
    sorted, then pure array logic — single aggregation, no second
    shuffle, linear in N."""
    parts = [p.strip() for p in _split_args(params)]
    if len(parts) != 2:
        raise UnsupportedChSql(
            "sequenceNextNode expects (direction, base) parameters")

    def _lit(p: str) -> str:
        if len(p) >= 2 and p[0] == "'" and p[-1] == "'":
            return p[1:-1]
        raise UnsupportedChSql(
            "sequenceNextNode direction/base must be string literals")

    direction, base = _lit(parts[0]), _lit(parts[1])
    if direction not in ("forward", "backward") or base not in (
            "head", "tail", "first_match", "last_match"):
        raise UnsupportedChSql(
            f"sequenceNextNode('{direction}', '{base}') is not a "
            "recognized (direction, base) pair")
    # CH's own factory validation (AggregateFunctionSequenceNextNode
    # .cpp): head only walks forward, tail only backward
    if base == "head" and direction == "backward":
        raise UnsupportedChSql(
            "sequenceNextNode: CH rejects base 'head' with direction "
            "'backward' (head anchors the earliest node — walk "
            "'forward' from it)")
    if base == "tail" and direction == "forward":
        raise UnsupportedChSql(
            "sequenceNextNode: CH rejects base 'tail' with direction "
            "'forward' (tail anchors the latest node — walk "
            "'backward' from it)")
    if len(args) < 3:
        raise UnsupportedChSql(
            "sequenceNextNode expects (timestamp, event_column, "
            "base_condition, event1…) arguments")
    ts, ev, bc, conds = args[0], args[1], args[2], args[3:]
    if base in ("first_match", "last_match") and not conds:
        raise UnsupportedChSql(
            f"sequenceNextNode base '{base}' needs at least event1")
    n = len(conds)
    t_expr = f"CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE)"

    def as_flag(c: str) -> str:
        # CH conditions are truthy UInt8; NULL never matches a bitset
        return f"coalesce(CAST(({c}) AS BOOLEAN), false)"

    fields = [f"{t_expr} AS t",
              # CH requires a String event column — faithful cast
              f"CAST(({ev}) AS STRING) AS val",
              f"{as_flag(bc)} AS b"]
    fields += [f"{as_flag(c)} AS m{j + 1}" for j, c in enumerate(conds)]
    node = "struct(" + ", ".join(fields) + ")"
    nodes = (f"array_sort(collect_list(CASE WHEN {t_expr} IS NOT NULL"
             f" THEN {node} END))")
    # nodes are ALWAYS sorted ascending by time (CH data.sort());
    # direction sets the chain's STEP sign and the answer offset
    # (getNextNodeIndex: base ± events_size)
    d = 1 if direction == "forward" else -1
    if base == "head":
        base_e = ("IF(coalesce(try_element_at(nodes, 1).b, false),"
                  " 1, CAST(NULL AS INT))")
    elif base == "tail":
        # the size(nodes) lookup needs an empty guard: index 0 raises
        # INVALID_INDEX_OF_ZERO even through try_element_at (r14 fuzz
        # seed 5150/27 — an all-NULL-timestamp group)
        base_e = ("CASE WHEN size(nodes) >= 1 AND"
                  " coalesce(try_element_at(nodes, size(nodes)).b,"
                  " false) THEN size(nodes) ELSE CAST(NULL AS INT) END")
    else:
        matches = ("filter(transform(nodes, (x, i) ->"
                   " IF(x.b AND x.m1, i + 1, CAST(NULL AS INT))),"
                   " p -> p IS NOT NULL)")
        pick = "1" if base == "first_match" else "-1"
        base_e = f"try_element_at({matches}, {pick})"

    def at(off: int, field: str) -> str:
        # bounded lookup: a below-1 index must answer NULL, not wrap
        # from the end (Spark's negative element_at semantics)
        idx = f"base + {d * off}" if off else "base"
        return (f"CASE WHEN ({idx}) >= 1 THEN"
                f" try_element_at(nodes, {idx}).{field} END")

    chain = " AND ".join(
        f"coalesce({at(j, f'm{j + 1}')}, false)"
        for j in range(n)) or "true"
    val = at(n, "val")
    body = (f"element_at(transform(array({base_e}), base ->"
            f" CASE WHEN base IS NOT NULL AND {chain}"
            f" THEN {val} END), 1)")
    ties = ("size(nodes) !="
            " size(array_distinct(transform(nodes, x -> x.t)))")
    msg = ("sequenceNextNode: duplicate timestamps within a group make"
           " the ClickHouse node order undefined - deduplicate or"
           " sharpen the time key (e.g. argMin per timestamp) first")
    return (f"element_at(transform(array({nodes}), nodes ->"
            f" CASE WHEN {ties} THEN CAST(raise_error('{msg}') AS"
            f" STRING) ELSE {body} END), 1)")


def _funnel_expr(params: str, args: list[str]) -> str:
    """``windowFunnel(w)(ts, c1…cn)`` → CH DEFAULT-MODE EXACT fold
    (AggregateFunctionWindowFunnel.h; ADVICE r6): the level is the
    deepest stage over ALL cond₁ anchors, equal timestamps are
    allowed, and one event may fill consecutive stages.

    Construction: one fold ELEMENT per (event, matched condition),
    sorted by (t, cond_idx) — ascending cond index at equal t mirrors
    CH's ascending event_idx loop within one event.  State acc[i] =
    anchor timestamp of the dominating chain at level i+1 (CH's
    events_timestamp slot): a c₁ element always overwrites acc[0]
    (latest anchor dominates — the stage-i+1 check only reads the
    anchor, and anchors are monotone under the sorted fold); a c_{i+1}
    element propagates acc[i] = acc[i-1] when t <= acc[i-1] + w.
    Slots fill in prefix order and never unset, so the level is the
    count of non-null slots.  Each element touches exactly one slot,
    keeping the generated expression linear in n."""
    if len(args) < 2:
        raise UnsupportedChSql("windowFunnel expects (timestamp, cond…)")
    parts = _split_args(params)
    w = parts[0].strip() if parts else ""
    if not w:
        raise UnsupportedChSql("windowFunnel expects a window parameter")
    strict_increase = strict_order = strict_dedup = False
    for p in parts[1:]:
        mode = p.strip().strip("'")
        if mode == "strict_increase":
            strict_increase = True
        elif mode == "strict_order":
            # r11d (VERDICT r10 item 5): CH's strict_order scan is
            # sequential-with-early-termination — expressible in this
            # sorted fold by also materializing NON-matching events
            # (they interrupt a started chain) and a termination slot
            strict_order = True
        elif mode == "strict_deduplication":
            # r14: CH early-RETURNS the repeated condition's 1-based
            # INDEX the moment an already-filled slot's condition
            # matches again (AggregateFunctionWindowFunnel.h:
            # `if (strict_deduplication &&
            # events_timestamp[event_idx].has_value()) return
            # events_list[i].second` — note: the REPEAT's index, which
            # can be LOWER than the level reached; c₁ repeats never
            # trigger, its branch precedes the check; completing the
            # top level first ends the scan first).  Expressible with
            # a termination slot carrying the exit value.
            strict_dedup = True
        else:
            raise UnsupportedChSql(
                f"windowFunnel mode {mode!r} is not supported "
                "(default, 'strict_increase', 'strict_order' and "
                "'strict_deduplication' are)"
            )
    if strict_order and strict_dedup:
        raise UnsupportedChSql(
            "windowFunnel strict_order + strict_deduplication combined "
            "is not supported (each mode is, alone or with "
            "strict_increase) — the two early-exit rules interleave "
            "per CH's branch order; split the query if you need both")
    ts, conds = args[0], [_ch_cond(c) for c in args[1:]]
    n = len(conds)
    t_expr = f"CAST(CAST({ts} AS TIMESTAMP) AS DOUBLE)"
    elems = [
        f"struct({t_expr} AS t, {i + 1} AS i, ({c}) AS m)"
        for i, c in enumerate(conds)
    ]
    if strict_order:
        # CH stores an (ts, 0) entry for an event matching NO
        # condition (AggregateFunctionWindowFunnel.h add(): only in
        # strict_order mode) — it interrupts a started chain.  i = 0
        # sorts before the condition elements at an equal timestamp,
        # inside CH's own insertion-order tie envelope.
        none_m = " OR ".join(f"({c})" for c in conds)
        elems.append(
            f"struct({t_expr} AS t, 0 AS i, "
            f"NOT coalesce({none_m}, false) AS m)")
    per_row = ("filter(array(" + ", ".join(elems)
               + "), x -> x.m AND x.t IS NOT NULL)")
    evs = f"array_sort(flatten(collect_list({per_row})))"
    # state slot per level: (a = chain anchor ts, l = that level's own
    # event ts).  Default mode only reads a; strict_increase adds CH's
    # `timestamp > previous stage's event` check on l (CH keeps the
    # same single greedy slot per level in strict mode — mirrored).
    # strict_order adds slot n as the TERMINATION flag (CH's `break`
    # out of the scan loop): once set, every later element is inert.
    null_slot = "named_struct('a', CAST(NULL AS DOUBLE), 'l', CAST(NULL AS DOUBLE))"
    has_term = strict_order or strict_dedup
    init = f"array({', '.join([null_slot] * (n + (1 if has_term else 0)))})"
    if strict_order:
        dead = f"acc[{n}].a IS NOT NULL AND "
    elif strict_dedup:
        # frozen once the exit slot is set OR the top level filled
        # (CH returns at `event_idx + 1 == events_size` — a later
        # repeat must not rewrite the answer)
        dead = (f"(acc[{n}].a IS NOT NULL"
                f" OR acc[{n - 1}].a IS NOT NULL) AND ")
    else:
        dead = ""
    upd = [
        f"CASE WHEN {dead}true THEN acc[0] "
        "WHEN e.i = 1 THEN named_struct('a', e.t, 'l', e.t) "
        "ELSE acc[0] END"
        if has_term else
        "CASE WHEN e.i = 1 THEN named_struct('a', e.t, 'l', e.t) "
        "ELSE acc[0] END"
    ]
    for i in range(1, n):
        strict = f"AND e.t > acc[{i - 1}].l " if strict_increase else ""
        # strict_dedup: the repeat check PRECEDES the chain update in
        # CH's branch order — an element whose own slot is filled
        # exits and must NOT also refresh the slot's anchor
        ded_skip = (f"WHEN e.i = {i + 1} AND acc[{i}].a IS NOT NULL "
                    f"THEN acc[{i}] " if strict_dedup else "")
        upd.append(
            f"CASE WHEN {dead}e.i >= 0 THEN acc[{i}] "
            f"{ded_skip}"
            f"WHEN e.i = {i + 1} AND acc[{i - 1}].a IS NOT NULL "
            f"AND e.t <= acc[{i - 1}].a + ({w}) {strict}"
            f"THEN named_struct('a', acc[{i - 1}].a, 'l', e.t) "
            f"ELSE acc[{i}] END"
            if has_term else
            f"CASE WHEN e.i = {i + 1} AND acc[{i - 1}].a IS NOT NULL "
            f"AND e.t <= acc[{i - 1}].a + ({w}) {strict}"
            f"THEN named_struct('a', acc[{i - 1}].a, 'l', e.t) "
            f"ELSE acc[{i}] END"
        )
    if strict_dedup:
        # exit slot: the first element repeating an already-filled
        # condition (c₂…cₙ — the c₁ branch precedes the check in CH)
        # stores the REPEAT's 1-based index as the funnel's answer
        upd.append(
            f"CASE WHEN {dead}e.i >= 0 THEN acc[{n}] "
            f"WHEN e.i >= 2 AND element_at(acc, e.i).a IS NOT NULL "
            f"THEN named_struct('a', CAST(e.i AS DOUBLE), "
            f"'l', CAST(0 AS DOUBLE)) "
            f"ELSE acc[{n}] END")
    if strict_order:
        # termination (CH scan loop, in its branch order): a stored
        # non-match entry (e.i = 0) breaks once the chain has started
        # (first_event == slot 0 held); a chain event whose
        # PREDECESSOR slot is still empty early-returns the current
        # level — same thing as terminating, since the result is the
        # filled-prefix length either way.  A time-window miss does
        # NOT terminate (it skips) — mirrored by requiring the
        # predecessor slot to be EMPTY here.
        started = "acc[0].a IS NOT NULL"
        pred_empty = (" OR ".join(
            f"(e.i = {k + 1} AND acc[{k - 1}].a IS NULL)"
            for k in range(1, n)) or "false")
        upd.append(
            f"CASE WHEN acc[{n}].a IS NOT NULL THEN acc[{n}] "
            f"WHEN {started} AND (e.i = 0 OR ({pred_empty})) "
            f"THEN named_struct('a', CAST(0 AS DOUBLE), "
            f"'l', CAST(0 AS DOUBLE)) "
            f"ELSE acc[{n}] END")
    if strict_dedup:
        finish = (
            f"IF(acc[{n}].a IS NOT NULL, CAST(acc[{n}].a AS INT), "
            f"size(filter(slice(acc, 1, {n}), x -> x.a IS NOT NULL)))")
    elif strict_order:
        finish = f"size(filter(slice(acc, 1, {n}), x -> x.a IS NOT NULL))"
    else:
        finish = "size(filter(acc, x -> x.a IS NOT NULL))"
    return (
        f"aggregate({evs}, {init}, (acc, e) -> array({', '.join(upd)}), "
        f"acc -> {finish})"
    )


def _sep_regex_lit(sep_lit: str) -> str:
    """Content for a Spark single-quoted string literal that, after the
    literal parser processes backslash escapes, yields a REGEX matching
    the separator exactly.  The input literal is DECODED first (``''``
    doubling and ``\\\\`` backslash escapes), then each content char is
    re-escaped through BOTH layers: regex metachars need one regex
    backslash that must itself survive the string literal (``.`` →
    ``\\\\.`` in the emitted text), a backslash needs a regex escape of
    two backslashes = four in the text, and quotes re-double."""
    sep = sep_lit[1:-1].replace("''", "'").replace("\\\\", "\\")
    out = []
    for c in sep:
        if c == "\\":
            out.append("\\\\\\\\")
        elif c in r".^$*+?()[]{}|":
            out.append("\\\\" + c)
        elif c == "'":
            out.append("''")
        else:
            out.append(c)
    return "".join(out)


#: CH add*/subtract* calendar arithmetic → Spark timestampadd units
_ADDSUB_UNITS = {
    **{f"add{u.capitalize()}s": (u.upper(), 1)
       for u in ("year", "month", "week", "day", "hour", "minute", "second")},
    **{f"subtract{u.capitalize()}s": (u.upper(), -1)
       for u in ("year", "month", "week", "day", "hour", "minute", "second")},
}

#: CH array HOFs take (lambda, array); Spark's take (array, lambda)
_LAMBDA_SWAP = {
    "arrayMap": "transform",
    "arrayFilter": "filter",
    "arrayExists": "exists",
    "arrayAll": "forall",
}


def _datediff_expr(args: list[str]) -> str:
    """CH ``dateDiff('unit', start, end)`` counts UNIT-BOUNDARY
    crossings (toRelative*Num difference), NOT complete intervals —
    so Spark's ``timestampdiff`` (complete units) would be a silent
    mistranslation.  Emit the boundary arithmetic per unit; 'week'
    raises (CH's relative week epoch rule is not worth guessing)."""
    if len(args) != 3:
        raise UnsupportedChSql("dateDiff('unit', start, end) expects 3 args")
    unit_lit, s, e = args
    if not (unit_lit.startswith("'") and unit_lit.endswith("'")):
        raise UnsupportedChSql("dateDiff needs a literal unit")
    unit = unit_lit[1:-1].lower()
    if unit == "second":
        return f"(unix_timestamp({e}) - unix_timestamp({s}))"
    if unit in ("minute", "hour"):
        # CH toRelativeMinute/HourNum are UTC-epoch floor-divisions —
        # DST-independent by construction (a local date_trunc delta
        # would miscount across a 23/25-hour local day)
        w = 60 if unit == "minute" else 3600
        return (f"(unix_timestamp({e}) DIV {w} - "
                f"unix_timestamp({s}) DIV {w})")
    if unit == "day":
        # calendar-day boundary count in the session zone; datediff on
        # DATEs is DST-proof (no fixed 86400 s assumption)
        return f"datediff(CAST({e} AS DATE), CAST({s} AS DATE))"
    if unit == "month":
        return (f"((year({e}) * 12 + month({e})) - "
                f"(year({s}) * 12 + month({s})))")
    if unit == "quarter":
        return (f"((year({e}) * 4 + quarter({e})) - "
                f"(year({s}) * 4 + quarter({s})))")
    if unit == "year":
        return f"(year({e}) - year({s}))"
    raise UnsupportedChSql(f"dateDiff unit {unit!r} not supported")


#: CH formatDateTime %-tokens → Spark datetime pattern fragments.
#: %M is deliberately ABSENT: ClickHouse changed its default meaning in
#: 23.4 (minutes before, full month name after) — a mapping would be
#: silently wrong on one side of that line, so it raises with a
#: pointer to the unambiguous %i (minutes).  %e (space-padded day) has
#: no Spark pattern equivalent and raises too.
_CH_FMT_TOKENS = {
    "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
    "%H": "HH", "%I": "hh", "%i": "mm", "%S": "ss", "%p": "a",
    "%j": "DDD", "%F": "yyyy-MM-dd", "%T": "HH:mm:ss", "%R": "HH:mm",
    "%%": "%",
}


def _format_datetime_expr(args: list[str]) -> str:
    """``formatDateTime(ts, '%Y-%m-%d')`` → ``date_format(ts, …)`` with
    the %-tokens translated; unknown tokens and the timezone argument
    raise (session-timezone discipline) rather than mistranslate.
    Literal text between tokens is single-quoted for Spark's pattern
    syntax."""
    if len(args) == 3:
        raise UnsupportedChSql(
            "formatDateTime timezone argument not supported — the session "
            "timezone governs rendering"
        )
    if len(args) != 2:
        raise UnsupportedChSql("formatDateTime(ts, 'fmt') expects 2 args")
    ts, fmt_lit = args
    if not (fmt_lit.startswith("'") and fmt_lit.endswith("'")):
        raise UnsupportedChSql("formatDateTime needs a literal format")
    fmt = fmt_lit[1:-1].replace("''", "'")
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%":
            tok = fmt[i : i + 2]
            if tok == "%M":
                raise UnsupportedChSql(
                    "formatDateTime %M is ambiguous across ClickHouse "
                    "versions (minutes before 23.4, month name after) — "
                    "use %i for minutes"
                )
            if tok not in _CH_FMT_TOKENS:
                raise UnsupportedChSql(
                    f"formatDateTime token {tok!r} not supported"
                )
            out.append(_CH_FMT_TOKENS[tok])
            i += 2
        else:
            m = re.match(r"[^%]+", fmt[i:])
            lit = m.group(0)
            out.append("'" + lit.replace("'", "''") + "'")
            i += len(lit)
    pat = "".join(out).replace("'", "\\'")
    return f"date_format({ts}, '{pat}')"


def _regex_has_capture_group(literal_body: str) -> bool:
    """Whether the regex spelled by a SQL string literal's BODY (text
    between the quotes) contains a capture group, honoring BOTH escape
    layers: the SQL parser consumes one backslash (``'\\\\('`` is the
    regex ``\\(`` — a literal paren, no group) and the regex layer's
    own escapes and ``[...]`` classes (``'[(]'`` is also no group).
    A naive strip of doubled backslashes miscounts both (review r9)."""
    # SQL layer: `\\` → `\`, any other `\c` → `c` (the control-char
    # meanings of \n etc. don't matter here — no paren can result)
    rx, i, n = [], 0, len(literal_body)
    while i < n:
        if literal_body[i] == "\\" and i + 1 < n:
            nxt = literal_body[i + 1]
            rx.append("\\" if nxt == "\\" else nxt)
            i += 2
        else:
            rx.append(literal_body[i])
            i += 1
    # regex layer: a backslash escapes the next char; parens inside
    # [...] classes are literals
    j, in_class = 0, False
    while j < len(rx):
        c = rx[j]
        if c == "\\":
            j += 2
            continue
        if in_class:
            in_class = c != "]"
        elif c == "[":
            in_class = True
        elif c == "(" and not (j + 1 < len(rx) and rx[j + 1] == "?"):
            return True
        j += 1
    return False


def _is_lambda_arg(part: str) -> bool:
    """Whether a top-level call argument is a lambda (`x -> …` /
    `(x, i) -> …`), checked on literal-masked text so an `->` inside
    a string can't false-positive."""
    return "->" in _mask_literals(part)


#: CH cryptographic digests return BINARY (FixedString(N)) — Spark's
#: md5/sha1/sha2 return lowercase-hex STRINGS, so the bare rename
#: makes `hex(MD5(x))` hex the hex (dialect probe, round 9: a live
#: silent diff).  unhex() restores the digest bytes; hex() of the
#: result is then CH-exact (both engines print uppercase).  CH
#: registers these case-insensitively.
_DIGESTS = {"md5": "unhex(md5({x}))", "sha1": "unhex(sha1({x}))",
            "sha224": "unhex(sha2(({x}), 224))",
            "sha256": "unhex(sha2(({x}), 256))",
            "sha512": "unhex(sha2(({x}), 512))"}

#: single-array forms of the CH array arithmetic family.  DEVIATION
#: (documented in the module docstring): results are DOUBLE where CH
#: widens integer inputs to (U)Int64 — Spark's aggregate() requires a
#: statically-typed zero, and DOUBLE is the one type every numeric
#: array coerces to (integers stay exact through 2^53).  CH's
#: arrayAvg/arrayProduct return Float64 natively, so those two are
#: value-exact.
#: Monotone suffix for generated lambda-variable names, so nested
#: bind-once wrappers never shadow each other.  Names carry no
#: semantics; the counter only guarantees uniqueness within a process.
_BIND_SEQ = itertools.count(1)


def _bind_once(arr: str, body: "callable") -> str:
    """Splice a (possibly nondeterministic) array argument exactly ONCE.

    Templates that reference their array several times (size + sum,
    filter + element_at, zip_with over transform) would re-evaluate a
    nondeterministic argument — e.g. one containing rand() — at every
    splice, mispairing keys with values (ADVICE r9).  Binding the
    expression as a lambda variable through a single-element transform
    makes every reference read the SAME evaluated value; the extra
    transform-over-array(1) node is negligible and whole-stage
    codegen'd.  ``body`` maps the bound variable name to the template
    text.
    """
    var = f"__ab{next(_BIND_SEQ)}"
    return f"(transform(array({arr}), {var} -> {body(var)}))[0]"


_ARR_SUM = ("aggregate({a}, CAST(0 AS DOUBLE), "
            "(__acc, __x) -> __acc + CAST(__x AS DOUBLE))")
_ARR_SINGLE = {
    "arraySum": _ARR_SUM,
    "arrayProduct": ("aggregate({a}, CAST(1 AS DOUBLE), "
                     "(__acc, __x) -> __acc * CAST(__x AS DOUBLE))"),
    # empty array → NaN (an avg over zero elements), guarded so ANSI
    # mode can't raise DIVIDE_BY_ZERO
    "arrayAvg": (f"(CASE WHEN size({{a}}) = 0 THEN CAST('NaN' AS DOUBLE) "
                 f"ELSE {_ARR_SUM} / size({{a}}) END)"),
    # single-pass running-state folds: linear, and the array (which
    # may itself be a transform(arr, lambda)) is spliced ONCE so the
    # user's lambda evaluates once per element (review r9c: the
    # slice-per-prefix form was O(n²) and re-ran the lambda per prefix)
    "arrayCumSum": ("aggregate({a}, "
                    "struct(CAST(0 AS DOUBLE) AS s, "
                    "CAST(array() AS ARRAY<DOUBLE>) AS o), "
                    "(__acc, __x) -> struct("
                    "__acc.s + CAST(__x AS DOUBLE) AS s, "
                    "concat(__acc.o, array(__acc.s + CAST(__x AS DOUBLE)))"
                    " AS o), "
                    "__acc -> __acc.o)"),
    "arrayDifference": ("aggregate({a}, "
                        "struct(true AS f, CAST(0 AS DOUBLE) AS p, "
                        "CAST(array() AS ARRAY<DOUBLE>) AS o), "
                        "(__acc, __x) -> struct(false AS f, "
                        "CAST(__x AS DOUBLE) AS p, "
                        "concat(__acc.o, array("
                        "CASE WHEN __acc.f THEN CAST(0 AS DOUBLE) "
                        "ELSE CAST(__x AS DOUBLE) - __acc.p END)) AS o), "
                        "__acc -> __acc.o)"),
    "arrayEnumerate": "slice(sequence(1, size({a}) + 1), 1, size({a}))",
    "arrayCompact": ("filter({a}, (__x, __i) -> __i = 0 OR "
                     "NOT (__x <=> element_at({a}, __i)))"),
    "arrayPopBack": "slice({a}, 1, greatest(size({a}) - 1, 0))",
    "arrayPopFront": "slice({a}, 2, greatest(size({a}) - 1, 0))",
}

#: (lambda, array) forms.  DEVIATION: arrayFirst/arrayLast return
#: NULL when nothing matches (CH returns the element type's default
#: value) — the same NULL-for-default rule as out-of-range subscripts.
_ARR_LAMBDA = {
    "arrayFirst": "try_element_at(filter({a}, {L}), 1)",
    "arrayLast": "try_element_at(filter({a}, {L}), -1)",
    "arrayFirstIndex": ("CAST(array_position("
                        "transform({a}, {L}), true) AS INT)"),
}

#: arraySort/arrayReverseSort with a key lambda: decorate-sort-
#: undecorate through zip_with.  NULL keys sort LAST in both
#: directions like CH (a bare struct sort puts NULL fields first;
#: review r9c), via an is-null flag field (asc) or an explicit
#: comparator (desc).  Ties break by element value here; CH keeps
#: input order — documented.
_ARR_SORT_LAMBDA = ("transform(array_sort(zip_with(transform({a}, {L}), "
                    "{a}, (__k, __v) -> struct((__k IS NULL) AS kn, "
                    "__k AS k, __v AS v))), __s -> __s.v)")
_ARR_SORT_LAMBDA_DESC = (
    "transform(array_sort(zip_with(transform({a}, {L}), {a}, "
    "(__k, __v) -> struct(__k AS k, __v AS v)), (__l, __r) -> "
    "CASE WHEN __l.k IS NULL AND __r.k IS NULL THEN 0 "
    "WHEN __l.k IS NULL THEN 1 WHEN __r.k IS NULL THEN -1 "
    "WHEN __l.k < __r.k THEN 1 WHEN __l.k > __r.k THEN -1 "
    "ELSE 0 END), __s -> __s.v)")
#: descending element sort with NULLs LAST (CH rule in both
#: directions; reverse(array_sort(a)) would put them first)
_ARR_SORT_DESC = (
    "array_sort({a}, (__l, __r) -> "
    "CASE WHEN __l IS NULL AND __r IS NULL THEN 0 "
    "WHEN __l IS NULL THEN 1 WHEN __r IS NULL THEN -1 "
    "WHEN __l < __r THEN 1 WHEN __l > __r THEN -1 ELSE 0 END)")

#: arrayReduce agg-name → single-array expression (literal agg names
#: only; the general agg-by-name form raises)
_ARR_REDUCE = {
    "sum": _ARR_SUM,
    "avg": _ARR_SINGLE["arrayAvg"],
    "product": _ARR_SINGLE["arrayProduct"],
    "min": "array_min({a})",
    "max": "array_max({a})",
    "count": "size({a})",
    "uniq": "size(array_distinct({a}))",
    "uniqExact": "size(array_distinct({a}))",
}


#: CH type spellings inside CAST → Spark types (used for NESTED
#: positions — Array elements — and accurateCast).  Matching is
#: CASE-SENSITIVE on CH's exact CamelCase spellings, as in ClickHouse
#: itself — this is also what keeps plain ANSI casts untouched:
#: ``CAST(x AS STRING)``/``AS DATE`` (any non-CH casing) must stay
#: Spark-native, while ``AS String``/``AS Date`` opt into CH
#: semantics.  DEVIATION: nested integer casts are range-checked
#: (ANSI), not wrapped; top-level (U)IntN casts route through the
#: wrap-exact to* shims instead.
_CH_SIMPLE_TYPES = {
    "Int8": "TINYINT", "Int16": "SMALLINT", "Int32": "INT",
    "Int64": "BIGINT",
    # unsigned widths widen to the next signed type that holds the
    # full range (UInt64 stays BIGINT — same 2^63 limit as toUInt64)
    "UInt8": "SMALLINT", "UInt16": "INT", "UInt32": "BIGINT",
    "UInt64": "BIGINT",
    "Float32": "FLOAT", "Float64": "DOUBLE",
    "String": "STRING", "Date": "DATE", "Date32": "DATE",
    "DateTime": "TIMESTAMP", "Bool": "BOOLEAN",
}

#: top-level CAST targets with CH value semantics — route through the
#: existing shims so wrap/parse behavior is identical to the to* forms
_CH_WRAP_CASTS = {
    "UInt8": "toUInt8", "UInt16": "toUInt16", "UInt32": "toUInt32",
    "UInt64": "toUInt64",
    "Int8": "toInt8", "Int16": "toInt16", "Int32": "toInt32",
    "Int64": "toInt64",
    "Float32": "toFloat32", "Float64": "toFloat64",
    "String": "toString", "Date": "toDate", "Date32": "toDate",
    "DateTime": "toDateTime", "Bool": "toBool",
}


def _ch_cast_expr(expr: str, typetok: str, accurate: bool) -> str | None:
    """Rewrite ``CAST(expr AS <CH type>)`` / ``CAST(expr, '<CH type>')``
    / ``accurateCast`` when the type is a ClickHouse spelling; return
    None for anything else (plain ANSI types pass through untouched).
    Non-accurate integer casts WRAP like CH (via the to* shims);
    accurateCast range-errors like CH does — Spark's ANSI CAST is the
    exact analogue for signed targets, unsigned ones raise (ANSI can't
    range-check an unsigned domain without a silent sign bug)."""
    t = typetok.strip()
    # timezone-qualified DateTime('tz') / DateTime64(p, 'tz'): the
    # session timezone governs rendering here (same contract as
    # toTimeZone's raise) — a clean raise beats Spark's opaque
    # unsupported-datatype parse error (review r9d; the reference's
    # own tables pin Europe/Moscow, so this spelling is likely)
    if re.match(r"^DateTime(64)?\s*\(.*'", t):
        raise UnsupportedChSql(
            f"CAST to timezone-qualified {t.split('(')[0]}(…'tz') not "
            "supported — Spark timestamps are zone-less instants; set "
            "spark.sql.session.timeZone for rendering"
        )
    # The five compound regexes are CASE-SENSITIVE on CH's CamelCase,
    # like the scalar map below: ANSI spellings (DECIMAL(10,2), any
    # other casing) must pass through byte-identically (review r9d).
    # unwrap Nullable(...) / LowCardinality(...): Spark columns are
    # nullable, and LowCardinality is a CH storage hint
    m = re.match(r"^(Nullable|LowCardinality)\s*\((.*)\)$", t)
    if m:
        return _ch_cast_expr(expr, m.group(2), accurate) or (
            f"CAST(({expr}) AS {m.group(2).strip()})")
    m = re.match(r"^Array\s*\((.*)\)$", t)
    if m:
        inner = m.group(1).strip()
        inner_m = re.match(r"^(Nullable|LowCardinality)\s*\((.*)\)$", inner)
        if inner_m:
            inner = inner_m.group(2).strip()
        sp = _CH_SIMPLE_TYPES.get(inner)
        if sp is None:
            raise UnsupportedChSql(
                f"CAST to Array({m.group(1).strip()}) not supported — "
                "supported element types: "
                + ", ".join(sorted(_CH_SIMPLE_TYPES)))
        return f"CAST(({expr}) AS ARRAY<{sp}>)"
    m = re.match(r"^FixedString\s*\((\d+)\)$", t)
    if m:
        if accurate:
            # CH accurateCast THROWS on a too-long string where the
            # plain cast's rpad contract truncates (review r9d)
            n = m.group(1)
            return (f"CASE WHEN octet_length(({expr})) > {n} THEN "
                    f"raise_error(concat('accurateCast: value too long "
                    f"for FixedString({n}): ', ({expr}))) "
                    f"ELSE toFixedString(({expr}), {n}) END")
        return f"toFixedString(({expr}), {m.group(1)})"
    m = re.match(r"^DateTime64\s*(?:\((\d+)\))?$", t)
    if m:
        return f"toDateTime64(({expr}), {m.group(1) or 3})"
    m = re.match(r"^Decimal\s*\((\d+)\s*,\s*(\d+)\)$", t)
    if m:
        # ANSI CAST to DECIMAL overflow-errors — also what CH's plain
        # and accurate casts both do for Decimal
        return f"CAST(({expr}) AS DECIMAL({m.group(1)}, {m.group(2)}))"
    m = re.match(r"^Decimal(32|64|128)\s*\((\d+)\)$", t)
    if m:
        prec = {"32": 9, "64": 18, "128": 38}[m.group(1)]
        return f"CAST(({expr}) AS DECIMAL({prec}, {m.group(2)}))"
    if t in _CH_WRAP_CASTS:
        if accurate:
            if t.startswith("UInt"):
                raise UnsupportedChSql(
                    f"accurateCast to {t}: Spark has no unsigned range "
                    f"check — use CAST(x AS {_CH_SIMPLE_TYPES[t]}) with "
                    f"an explicit >= 0 guard, or {_CH_WRAP_CASTS[t]}() "
                    "for CH's wrapping form")
            return f"CAST(({expr}) AS {_CH_SIMPLE_TYPES[t]})"
        return f"{_CH_WRAP_CASTS[t]}({expr})"
    return None  # not a CH spelling: plain ANSI passes through


def _split_top_as(inner: str) -> tuple[str, str] | None:
    """Split ``expr AS type`` on the RIGHTMOST top-level ``AS``
    (paren-depth 0, outside string literals); None when absent."""
    masked = _mask_literals(inner)
    depths = _depth_map(masked)
    best = max((m.start() for m in re.finditer(r"(?i)\bAS\b", masked)
                if depths[m.start()] == 0), default=-1)
    if best < 0:
        return None
    return inner[:best].strip(), inner[best + 2:].strip()


def _age_expr(args: list[str]) -> str:
    """CH ``age('unit', start, end)`` counts COMPLETE units (unlike
    dateDiff's boundary crossings), truncating toward zero so the
    result is sign-symmetric.  second…week ride epoch arithmetic
    (DEVIATION: a DST-shortened 23-hour local day is not a complete
    'day' here — CH computes on wall-clock components); month/quarter/
    year ride months_between, which is day-of-month and time-of-day
    exact."""
    if len(args) != 3:
        raise UnsupportedChSql("age('unit', start, end) expects 3 args")
    unit_lit, s, e = args
    if not (unit_lit.startswith("'") and unit_lit.endswith("'")):
        raise UnsupportedChSql("age needs a literal unit")
    unit = unit_lit[1:-1].lower()
    widths = {"second": 1, "minute": 60, "hour": 3600,
              "day": 86400, "week": 604800}
    if unit in widths:
        # Spark's DIV truncates toward zero — sign-symmetric like CH
        return (f"((unix_timestamp({e}) - unix_timestamp({s})) "
                f"DIV {widths[unit]})")
    months = {"month": 1, "quarter": 3, "year": 12}
    if unit in months:
        # months_between includes time-of-day EXCEPT when both sides
        # share a day-of-month (or are both month-ends) — there it
        # returns the bare integer, over-counting when the end's
        # time-of-day hasn't reached the start's.  The CASE term
        # patches exactly that hole, sign-symmetrically.
        et, st = f"CAST({e} AS TIMESTAMP)", f"CAST({s} AS TIMESTAMP)"

        def tod(x: str) -> str:
            return f"(hour({x}) * 3600 + minute({x}) * 60 + second({x}))"

        # the patch applies when months_between ignored the time AND
        # the time actually decides: same day-of-month, or both
        # month-ends where the CLAMP BINDS (the earlier side's
        # day-of-month exceeds the later side's — e.g. Jan 31 → Feb
        # 29; Feb 29 → Mar 31 lands un-clamped on Mar 29 and is
        # complete regardless of time; review r9c)
        both_end = (f"(day({et}) = day(last_day({et})) AND "
                    f"day({st}) = day(last_day({st})))")
        same_fwd = (f"(day({et}) = day({st}) OR "
                    f"({both_end} AND day({st}) > day({et})))")
        same_bwd = (f"(day({et}) = day({st}) OR "
                    f"({both_end} AND day({et}) > day({st})))")
        corr = (f"CASE WHEN {same_fwd} AND {et} > {st} "
                f"AND {tod(et)} < {tod(st)} THEN 1 "
                f"WHEN {same_bwd} AND {et} < {st} "
                f"AND {tod(et)} > {tod(st)} THEN -1 ELSE 0 END")
        body = f"(CAST(months_between({et}, {st}) AS BIGINT) - ({corr}))"
        if months[unit] > 1:
            body = f"({body} DIV {months[unit]})"  # trunc toward zero
        return body
    raise UnsupportedChSql(f"age unit {unit!r} not supported")


# ---- the call registry -------------------------------------------------
# `_rewrite_calls` is one scan; what each ClickHouse function becomes is
# decided by the one handler registered for its name.  See "Call
# registry" in the module docstring.

_IDENT_RX = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class _Call:
    """One ``name(…)`` call found by :func:`_rewrite_calls`.

    ``inner`` is the argument text with its nested calls already
    rewritten; ``gap`` is the original spacing between the name and
    its ``(``.  ``end`` is where the scan resumes: a handler that also
    consumes text after the call's ``)`` (the second group of the
    ``name(params)(args)`` form, an ``OVER (…)`` clause) moves it."""

    __slots__ = ("sql", "name", "start", "gap", "close", "inner", "end")

    def __init__(self, sql: str, name: str, start: int, gap: str,
                 close: int, inner: str):
        self.sql, self.name, self.start, self.gap = sql, name, start, gap
        self.close, self.inner, self.end = close, inner, close + 1

    @property
    def parts(self) -> list[str]:
        """``inner`` split on its top-level commas (a fresh list)."""
        return _split_args(self.inner)

    def after(self) -> int:
        """Index of the first non-blank character after the call's
        ``)`` (``len(sql)`` when there is none)."""
        k = self.close + 1
        while k < len(self.sql) and self.sql[k] in " \t\n":
            k += 1
        return k

    @property
    def has_params(self) -> bool:
        """Whether a second ``(…)`` group follows: ``inner`` is then
        the params of a ``name(params)(args)`` call."""
        k = self.after()
        return self.sql[k:k + 1] == "("

    def args(self) -> list[str]:
        """The rewritten, split second group of a ``(params)(args)``
        call; the scan resumes after it."""
        k = self.after()
        close = _find_close(self.sql, k)
        self.end = close + 1
        return _split_args(_rewrite_calls(self.sql[k + 1: close]))

    def plain(self, name: str | None = None) -> str:
        """The call as written, or renamed to ``name``."""
        return f"{name or self.name}{self.gap}({self.inner})"


#: name → handler; ``_CALLS_CI`` is keyed by the lower-cased name of
#: the entries ClickHouse registers case-insensitively
_CALLS: dict[str, Callable[[_Call], "str | None"]] = {}
_CALLS_CI: dict[str, Callable[[_Call], "str | None"]] = {}


def _register(name: str, handler: Callable[[_Call], "str | None"],
              ci: bool = False) -> None:
    """Claim ``name`` for ``handler``.  A name claimed twice (in any
    casing that both entries' case rules match), or one that the
    ``-State``/``-Merge`` refusal pattern matches, raises, so no entry
    can shadow another."""
    low = name.lower()
    if (name in _CALLS or low in _CALLS_CI
            or (ci and any(k.lower() == low for k in _CALLS))
            or re.match(_STATE_COMBINATOR_RX, name, re.I if ci else 0)):
        raise ValueError(f"call registry: {name!r} is already claimed")
    if ci:
        _CALLS_CI[low] = handler
    else:
        _CALLS[name] = handler


def _calls(*names: str, ci: bool = False):
    """Decorator: register the handler for each of ``names``, matched
    case-insensitively when ``ci``."""
    def deco(handler):
        for name in names:
            _register(name, handler, ci)
        return handler
    return deco


def _refuse_state_combinator(call: _Call) -> None:
    raise UnsupportedChSql(
        f"{call.name}(): -State/-Merge partial-aggregation sketches "
        "are AggregatingMergeTree machinery — this engine's "
        "equivalent is operators/aggregating.py (persisted "
        "per-batch partials, re-merged on read)")


def _call_handler(name: str) -> Callable[[_Call], "str | None"] | None:
    """The registry entry for a call of ``name``, if any."""
    handler = _CALLS.get(name) or _CALLS_CI.get(name.lower())
    if handler is None and re.match(_STATE_COMBINATOR_RX, name):
        return _refuse_state_combinator
    return handler


def _rewrite_calls(sql: str) -> str:
    """Rewrite every call in ``sql``, innermost first, through its
    registry entry; quoted spans are copied verbatim, and a call with
    no entry (or whose handler returns None) is kept as written."""
    out = []
    i, n = 0, len(sql)
    while i < n:
        c = sql[i]
        if c in "'`":  # copy quoted spans verbatim
            j = _find_partner(sql, i)
            j = n if j < 0 else j + 1
            out.append(sql[i:j])
            i = j
            continue
        m = _IDENT_RX.match(sql, i)
        if not m:
            out.append(c)
            i += 1
            continue
        j = k = m.end()
        while k < n and sql[k] in " \t\n":
            k += 1
        if k >= n or sql[k] != "(":
            out.append(m.group(0))
            i = j
            continue
        close = _find_close(sql, k)
        call = _Call(sql, m.group(0), i, sql[j:k], close,
                     _rewrite_calls(sql[k + 1: close]))
        handler = _call_handler(call.name)
        text = handler(call) if handler is not None else None
        out.append(call.plain() if text is None else text)
        i = call.end
    return "".join(out)


# -- refusals and plain renames: the module's name tables

def _refuse(message: str) -> Callable[[_Call], None]:
    def handler(call: _Call) -> None:
        raise UnsupportedChSql(message)
    return handler


for _name in _UNSUPPORTED:
    _register(_name, _refuse(
        f"{_name}() has no faithful SQL mapping here — use the "
        f"DataFrame operator (see functions/ and datapipe/)"))
for _name, _msg in _UNSUPPORTED_MSG.items():
    # CH registers bin case-insensitively: BIN(x) is refused too
    _register(_name, _refuse(_msg), ci=_name == "bin")
_register("replaceRegexpOne", _refuse(
    "replaceRegexpOne (first-match-only) has no Spark "
    "expression — regexp_replace replaces every match; "
    "use replaceRegexpAll or anchor the pattern"))
for _name, _to in _RENAMES.items():
    _register(_name, lambda call, to=_to: call.plain(to))
del _name, _msg, _to


# -- handlers, one per ClickHouse function (family)

#: ``name(params)(args)`` aggregates with no plain form
_PARAMS_ONLY = {
    "topK": _topk_expr,
    "topKWeighted": _topk_weighted_expr,
    "uniqUpTo": _uniq_upto_expr,
    "sequenceMatch": lambda p, a: _seq_expr("sequenceMatch", p, a),
    "sequenceCount": lambda p, a: _seq_expr("sequenceCount", p, a),
    "windowFunnel": _funnel_expr,
    "sequenceNextNode": _seq_next_node_expr,
    "exponentialMovingAverage": _ema_expr,
    "largestTriangleThreeBuckets": _lttb_expr,
    "lttb": _lttb_expr,
}


@_calls(*_PARAMS_ONLY)
def _params_only_call(call: _Call) -> str:
    if not call.has_params:
        raise UnsupportedChSql(
            f"{call.name} expects the (params)(args) form")
    return _PARAMS_ONLY[call.name](call.inner, call.args())


@_calls("retention")
def _retention_call(call: _Call) -> str:
    return _retention_expr(call.parts)


@_calls("maxIntersections", "maxIntersectionsPosition")
def _max_intersections_call(call: _Call) -> str:
    return _max_intersections_expr(call.name, call.parts)


def _ch_cond(cond: str) -> str:
    """A ClickHouse condition as a Spark BOOLEAN.  CH conditions are
    UInt8 (any non-zero value holds: ``sumIf(x, flag)``,
    ``multiIf(0, …)``); Spark's CASE WHEN and count_if need a
    boolean.  Catalyst drops the CAST of a condition that already is
    one, so a boolean condition plans as before."""
    return f"CAST(({cond}) AS BOOLEAN)"


@_calls("if", ci=True)
def _if(call: _Call) -> str | None:
    parts = call.parts
    if len(parts) != 3:
        return None  # Spark reports the arity
    return f"if({_ch_cond(parts[0])}, {parts[1]}, {parts[2]})"


@_calls("multiIf")
def _multi_if(call: _Call) -> str:
    parts = call.parts
    if len(parts) < 3 or len(parts) % 2 == 0:
        raise UnsupportedChSql("multiIf expects (c1, v1, …, else)")
    whens = " ".join(
        f"WHEN {_ch_cond(parts[j])} THEN {parts[j + 1]}"
        for j in range(0, len(parts) - 1, 2)
    )
    return f"CASE {whens} ELSE {parts[-1]} END"


@_calls("count", ci=True)
def _count(call: _Call) -> str | None:
    # CH zero-arg count() = row count
    return None if call.inner.strip() else "count(*)"


@_calls("position", ci=True)
@_calls("positionUTF8", "positionCaseInsensitive",
        "positionCaseInsensitiveUTF8")
def _position(call: _Call) -> str:
    # CH position(haystack, needle[, start]) vs Spark's
    # locate(needle, haystack[, start]) — the bare name would
    # resolve to Spark's builtin with SWAPPED argument roles
    # and silently return 0 (dialect probe, round 9).  The
    # bare spelling is one of CH's CASE-INSENSITIVE (SQL-
    # standard) registrations, so POSITION(...) must be
    # intercepted too (review r11a); the CH-specific *UTF8 /
    # *CaseInsensitive spellings stay exact-case.  CH's
    # non-UTF8 spellings return BYTE offsets (the 'в' in
    # 'привет' is at byte 7); Spark locate() is character-based, so the
    # byte forms re-measure the prefix with octet_length —
    # identical on ASCII, CH-exact on multi-byte (review r9).
    name, parts = call.name, call.parts
    if len(parts) == 1 and name.lower() == "position":
        # ANSI alias position(needle IN haystack) — one arg,
        # no top-level comma (ADVICE r11 #3: the now case-
        # insensitive interception must not break it).  CH
        # documents the alias as equivalent to
        # position(haystack, needle), i.e. byte-based — swap
        # to haystack-first and fall through.
        hit = _scan_toplevel(parts[0], r"\bIN\b")
        if hit is not None:
            parts = [parts[0][hit.end():].strip(),
                     parts[0][:hit.start()].strip()]
    if len(parts) not in (2, 3):
        raise UnsupportedChSql(
            f"{name}(haystack, needle[, start]) expects 2-3 args")
    hay, needle = parts[0], parts[1]
    if "CaseInsensitive" in name:
        hay, needle = f"lower({hay})", f"lower({needle})"
    if name.endswith("UTF8"):
        tail = f", {parts[2]}" if len(parts) == 3 else ""
        return f"locate({needle}, {hay}{tail})"
    if len(parts) == 3:
        raise UnsupportedChSql(
            f"{name}() with start_pos: CH counts it in BYTES, "
            "which has no faithful character-function mapping "
            "here — use positionUTF8(haystack, needle, start) "
            "for character-based offsets"
        )
    return f"ch_position_bytes({hay}, {needle})"


@_calls("any", ci=True)
def _any(call: _Call) -> str | None:
    # CH any(x) = an arbitrary value (Spark any_value) — but
    # the SAME spelling is ANSI's quantified comparison
    # (`price > ANY (SELECT …)`), and Spark's own any() is a
    # boolean aggregate.  Quantified ANY requires BOTH a
    # preceding comparison operator AND a subquery argument —
    # `max(f) = any(f)` on a boolean column is still the CH
    # aggregate (a char-only check silently rebound it to
    # bool_or; review r9b).  Case-insensitive dispatch: the
    # classic aggregates (count/sum/min/max/avg/any) are
    # CH's case-insensitive registrations, so `ANY(col)` is
    # the CH aggregate too (probe r11h — the exact-case check
    # let Spark's boolean any() capture it on bool columns).
    head = call.sql[:call.start].rstrip(" \t\n")
    if head and head[-1] in "=<>!" and re.match(
            r"(?i)\s*SELECT\b", _mask_literals(call.inner)):
        # quantified comparison: keep the ORIGINAL spelling
        # and spacing (`> ANY (SELECT …)`) — re-emitting it
        # as a call (`any(SELECT …)`) fails Spark's parser
        # (probe r11h)
        return None
    return f"any_value({call.inner})"


@_calls("tuple")
def _tuple(call: _Call) -> str:
    # named_struct with EXPLICIT colN field names: bare
    # struct(a, b) names fields after source COLUMNS when the
    # elements are column references, which breaks
    # tupleElement's positional .colN access (review r9b)
    parts = call.parts
    if not parts or not parts[0].strip():
        raise UnsupportedChSql("tuple() needs at least one element")
    items = ", ".join(f"'col{ix + 1}', {p}" for ix, p in enumerate(parts))
    return f"named_struct({items})"


@_calls("arrayZip")
def _array_zip(call: _Call) -> str:
    # structural (NOT arrays_zip, whose struct field names vary
    # with argument shape): rebuild colN-named structs so
    # tupleElement(t, N) positional access resolves, exactly
    # like tuple() above.  All arrays bind ONCE through a
    # named_struct envelope (nondeterministic args evaluate
    # once); unequal sizes raise like CH (arrays_zip would
    # silently pad with NULLs).
    parts = call.parts
    if not parts or not parts[0].strip():
        raise UnsupportedChSql("arrayZip needs at least one array")
    if len(parts) == 1:
        return f"transform({parts[0]}, __x -> named_struct('col1', __x))"
    var = f"__zb{next(_BIND_SEQ)}"
    binds = ", ".join(f"'a{ix}', {p}" for ix, p in enumerate(parts, 1))
    fields = ", ".join(
        ["'col1', __x"]
        + [f"'col{ix}', {var}.a{ix}[__i]"
           for ix in range(2, len(parts) + 1)])
    guard = " OR ".join(
        f"size({var}.a{ix}) <> size({var}.a1)"
        for ix in range(2, len(parts) + 1))
    return (f"(transform(array(named_struct({binds})), {var} -> "
            f"CASE WHEN {guard} THEN raise_error("
            f"'arrayZip: arrays must have equal sizes') "
            f"ELSE transform({var}.a1, (__x, __i) -> "
            f"named_struct({fields})) END))[0]")


@_calls("length")
def _length(call: _Call) -> str:
    # CH length(String) counts BYTES (lengthUTF8 is the
    # code-point form) — Spark length() counts characters, a
    # silent multi-byte diff.  Arrays still error loudly here
    # (CH length(Array) = element count): spell size().
    return f"octet_length({call.inner})"


@_calls("range")
def _range(call: _Call) -> str | None:
    # CH range([start,] end[, step]) = [start, end) — Spark's
    # closed-interval sequence() with an empty-range guard
    # (sequence(0, -1) would count DOWN; CH returns []).
    # NOT in FROM position: there `range()` is Spark's
    # table-valued generator, which the numbers() bridge
    # emits — leave it untouched.
    if not call.inner.strip():
        return None
    if re.search(r"(?i)\b(FROM|JOIN|LATERAL)$",
                 call.sql[:call.start].rstrip()):
        return f"range({call.inner})"
    parts = call.parts
    if len(parts) == 1:
        s_, e_, st_ = "0", parts[0], "1"
    elif len(parts) == 2:
        s_, e_, st_ = parts[0], parts[1], "1"
    elif len(parts) == 3:
        s_, e_, st_ = parts
        # positive-step-only contract: CH range(5, 0, -1)
        # counts DOWN and step=0 throws — the empty-range
        # guard below would silently return [] for both.
        # Literal non-positive steps raise here; non-literal
        # step expressions are passed through on the caller's
        # word that they are positive (ADVICE r9).
        st_lit = st_.strip()
        if re.fullmatch(r"-?\d+", st_lit) and int(st_lit) <= 0:
            raise UnsupportedChSql(
                "range() with a non-positive literal step — "
                "CH counts down for step<0 and throws for "
                "step=0; only positive steps are bridged")
    else:
        raise UnsupportedChSql("range() expects 1-3 arguments")
    return (f"CASE WHEN ({e_}) <= ({s_}) THEN CAST(array() AS "
            f"ARRAY<BIGINT>) ELSE sequence(CAST({s_} AS BIGINT), "
            f"CAST(({e_}) - 1 AS BIGINT), CAST({st_} AS BIGINT)) END")


@_calls("tupleElement")
def _tuple_element(call: _Call) -> str:
    # tuple() maps to named_struct with explicit col1, col2, …
    # fields; tupleElement(t, N) / tupleElement(t, 'name') is
    # field access on either spelling
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("tupleElement(t, index|name)")
    idx = parts[1].strip()
    if idx.isdigit():
        return f"({parts[0]}).col{idx}"
    if idx.startswith("'") and idx.endswith("'"):
        return f"({parts[0]}).`{idx[1:-1]}`"
    raise UnsupportedChSql(
        "tupleElement index must be an integer or string literal")


@_calls("plus", "minus", "multiply")
def _arith(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(a, b) expects 2 arguments")
    op = {"plus": "+", "minus": "-", "multiply": "*"}[call.name]
    return f"(({parts[0]}) {op} ({parts[1]}))"


@_calls("divide")
def _divide(call: _Call) -> str:
    # CH divide() is ALWAYS float division and returns
    # inf/-inf/nan on a zero divisor where Spark's ANSI `/`
    # raises DIVIDE_BY_ZERO (r10b).  Both operands bind once
    # (nondeterministic args evaluate once); -0.0 divisors
    # take the +0.0 sign (documented edge).  Bare `/` keeps
    # Spark's loud ANSI error — rewriting every operator
    # would churn all plans for a corner literal case.
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("divide(a, b) expects 2 arguments")
    return _bind_once(
        f"named_struct('a', CAST(({parts[0]}) AS DOUBLE), "
        f"'b', CAST(({parts[1]}) AS DOUBLE))",
        lambda v: (
            f"CASE WHEN {v}.a IS NULL OR {v}.b IS NULL "
            f"THEN CAST(NULL AS DOUBLE) "
            f"WHEN isnan({v}.a) OR isnan({v}.b) "
            f"THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {v}.b = 0 THEN CASE "
            f"WHEN {v}.a = 0 THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {v}.a > 0 THEN CAST('Infinity' AS DOUBLE) "
            f"ELSE CAST('-Infinity' AS DOUBLE) END "
            f"ELSE {v}.a / {v}.b END"))


def _fold_sum(pair_expr: str) -> str:
    return (f"aggregate({pair_expr}, CAST(0 AS DOUBLE), "
            f"(__acc, __v) -> __acc + __v)")


def _vector_body(name: str, a: str, b: str) -> str:
    """The distance ``name`` between the bound arrays ``a`` and ``b``,
    in DOUBLE."""
    if name in ("dotProduct", "arrayDotProduct"):
        return _fold_sum(f"zip_with({a}, {b}, (__x, __y) -> "
                         f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE))")
    if name == "L1Distance":
        return _fold_sum(
            f"zip_with({a}, {b}, (__x, __y) -> "
            f"abs(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)))")
    if name in ("L2Distance", "L2SquaredDistance"):
        sq = _fold_sum(
            f"zip_with({a}, {b}, (__x, __y) -> "
            f"(CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)) "
            f"* (CAST(__x AS DOUBLE) - CAST(__y AS DOUBLE)))")
        return f"sqrt({sq})" if name == "L2Distance" else sq
    if name == "LinfDistance":
        return (f"array_max(zip_with({a}, {b}, "
                f"(__x, __y) -> abs(CAST(__x AS DOUBLE) - "
                f"CAST(__y AS DOUBLE))))")
    # cosineDistance = 1 - dot / (|a| * |b|)
    dot = _fold_sum(f"zip_with({a}, {b}, (__x, __y) -> "
                    f"CAST(__x AS DOUBLE) * CAST(__y AS DOUBLE))")
    na = _fold_sum(f"transform({a}, __x -> "
                   f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))")
    nb = _fold_sum(f"transform({b}, __x -> "
                   f"CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))")
    return f"(1.0 - ({dot}) / (sqrt({na}) * sqrt({nb})))"


@_calls("dotProduct", "arrayDotProduct", "L1Distance", "L2Distance",
        "L2SquaredDistance", "LinfDistance", "cosineDistance")
def _vector_distance(call: _Call) -> str:
    # CH vector-distance family over array columns (r10h) —
    # the expression form of the embedding-search surface the
    # ANN operators (datapipe/similarity.py) implement at
    # scale.  Pure codegen zip_with/aggregate folds in DOUBLE
    # (CH computes Float64 for Float64 inputs); both arrays
    # bind ONCE; unequal sizes raise like CH.
    name, parts = call.name, call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{name}(a, b) expects 2 arrays")
    # a SUBQUERY argument — the nearest-neighbor idiom
    # `cosineDistance(vec, (SELECT vec FROM … WHERE id=1))` —
    # cannot live inside a higher-order function at ALL in
    # Spark (UNSUPPORTED_SUBQUERY_EXPRESSION; SQL UDFs are
    # equally blocked in Sort), so it raises naming the hoist
    # that works: CROSS JOIN the query vector as a column
    if re.search(r"(?is)\bSELECT\b",
                 _mask_literals(parts[0] + " " + parts[1])):
        raise UnsupportedChSql(
            f"{name} with a scalar-subquery argument: Spark "
            "forbids subqueries inside higher-order functions "
            "— hoist it (`… FROM t CROSS JOIN (SELECT vec AS "
            "q FROM … WHERE id=1) ORDER BY "
            f"{name}(t.vec, q)`) or use datapipe/similarity")
    return _bind_once(
        f"named_struct('a', ({parts[0]}), 'b', ({parts[1]}))",
        lambda v: (f"CASE WHEN size({v}.a) <> size({v}.b) THEN "
                   f"raise_error('{name}: arrays must have "
                   f"equal sizes') ELSE "
                   f"{_vector_body(name, f'{v}.a', f'{v}.b')} END"))


@_calls("L1Norm", "L2Norm", "LinfNorm", "L2SquaredNorm")
def _vector_norm(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(f"{call.name}(a) expects 1 array")
    a = parts[0]
    if call.name == "L1Norm":
        return (f"aggregate({a}, CAST(0 AS DOUBLE), (__acc, __x) ->"
                f" __acc + abs(CAST(__x AS DOUBLE)))")
    if call.name == "LinfNorm":
        return f"array_max(transform({a}, __x -> abs(CAST(__x AS DOUBLE))))"
    sq = (f"aggregate({a}, CAST(0 AS DOUBLE), (__acc, __x)"
          f" -> __acc + CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE))")
    return f"sqrt({sq})" if call.name == "L2Norm" else sq


@_calls("ifNotFinite")
def _if_not_finite(call: _Call) -> str:
    # ifNotFinite(x, alt): x when finite, else alt (r10f) —
    # x binds once (it may be nondeterministic or expensive)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("ifNotFinite(x, alt) expects 2 args")
    alt = parts[1]
    return _bind_once(
        f"CAST(({parts[0]}) AS DOUBLE)",
        lambda v: (
            f"CASE WHEN {v} IS NULL THEN CAST(NULL AS DOUBLE) "
            f"WHEN isnan({v}) OR {v} = CAST('Infinity' AS "
            f"DOUBLE) OR {v} = CAST('-Infinity' AS DOUBLE) "
            f"THEN CAST(({alt}) AS DOUBLE) ELSE {v} END"))


@_calls("indexOf")
def _index_of(call: _Call) -> str:
    # CH indexOf finds NULL elements ("NULL is handled as a
    # normal value", the same rule as hasAll/hasAny) where
    # array_position is null-strict — probe r10i caught
    # indexOf([…, NULL], NULL) returning NULL instead of the
    # position.  The <=> comparison finds both; 0 on miss
    # like CH.  Both args bind once.
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("indexOf(arr, x) expects 2 args")
    return _bind_once(
        f"named_struct('a', ({parts[0]}), 'x', ({parts[1]}))",
        lambda v: (f"array_position(transform({v}.a, "
                   f"__e -> __e <=> {v}.x), true)"))


# ---- collision-sweep batch r11a (VERDICT r10 item 2): CH names a
# Spark builtin captures with DIFFERENT semantics.  Each rewrite below
# neutralizes one silent capture found by tools/collision_sweep.py;
# tests/test_builtin_collisions.py pins the values and the sweep's
# clean classification.  MySQL/SQL-standard names in this batch are
# among CH's CASE-INSENSITIVE registrations (ci=True) — ROUND(2.5) is
# valid CH and must not bypass the bridge into the Spark builtin
# (review r11a).

@_calls("monthName", ci=True)
def _month_name(call: _Call) -> str:
    # CH returns the FULL month name ('March'); Spark 4's
    # monthname() builtin silently answered with the
    # abbreviation ('Mar') — probe r10i
    return f"date_format({call.inner}, 'MMMM')"


@_calls("dayName", ci=True)
def _day_name(call: _Call) -> str:
    # same bug class as monthName: Spark 4 dayname() answers
    # 'Fri'; CH returns 'Friday'
    return f"date_format({call.inner}, 'EEEE')"


@_calls("DAYOFWEEK", ci=True)
def _day_of_week(call: _Call) -> str:
    # CH DAYOFWEEK (case-insensitive SQL-standard alias of
    # toDayOfWeek): Monday=1..Sunday=7; Spark dayofweek:
    # Sunday=1..Saturday=7 — a silent off-by-shift
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(
            "DAYOFWEEK(x) maps 1-arg only (toDayOfWeek mode/"
            "timezone arguments are not bridged)")
    return f"(((dayofweek({parts[0]}) + 5) % 7) + 1)"


@_calls("round", ci=True)
def _round(call: _Call) -> str:
    # CH round() uses BANKER'S rounding for Float inputs
    # (round(2.5) = 2) and half-away-from-zero for Decimal;
    # Spark round() is HALF_UP everywhere — typeof() constant-
    # folds per input type, so the dispatch costs nothing
    parts = call.parts
    if len(parts) not in (1, 2):
        raise UnsupportedChSql("round(x[, n]) expects 1-2 args")
    nd = parts[1] if len(parts) == 2 else "0"
    arg = parts[0].strip()
    if re.search(r"(?<![\w.])(\d+\.\d*|\.\d+|\d+[eE][+-]?\d+|"
                 r"\d+\.\d*[eE][+-]?\d+)(?![\w.])",
                 _mask_literals(arg)):
        # CH types a dot/exponent literal as Float64 — and
        # float contaminates any expression containing one —
        # where Spark parses DECIMAL: round(2.5), round((2.5))
        # and round(2.5 + 0) must all take the banker's branch
        # like CH, not decimal HALF_UP (review r11a)
        arg = f"CAST(({arg}) AS DOUBLE)"
    return _bind_once(
        f"({arg})",
        lambda v: (
            f"CASE WHEN typeof({v}) IN ('double', 'float') "
            f"THEN bround({v}, {nd}) "
            f"ELSE round({v}, {nd}) END"))


@_calls("trunc", "truncate", ci=True)
def _trunc(call: _Call) -> str:
    # CH trunc(x[, n]) is NUMERIC truncation toward zero;
    # Spark trunc(date, fmt) is DATE truncation — a CH call
    # passed through would ANSI-crash or NULL.  floor/ceil
    # dispatch on sign reproduces toward-zero exactly; result
    # is DOUBLE like CH's Float64 return for float input.
    # Documented deviations: CH returns the INPUT type, so
    # integers/decimals beyond 2^53 lose low digits through
    # the DOUBLE path, and |x·10^n| beyond the BIGINT range
    # hits floor()'s ANSI overflow (loud, never silent).
    parts = call.parts
    if len(parts) not in (1, 2):
        raise UnsupportedChSql(f"{call.name}(x[, n]) expects 1-2 args")
    nd = parts[1] if len(parts) == 2 else "0"
    return _bind_once(
        f"CAST(({parts[0]}) AS DOUBLE)",
        lambda v: (
            f"CASE WHEN {v} >= 0 "
            f"THEN floor({v} * pow(10, {nd})) / pow(10, {nd}) "
            f"ELSE ceil({v} * pow(10, {nd})) / pow(10, {nd}) "
            f"END"))


@_calls("left", "right", ci=True)
@_calls("leftUTF8", "rightUTF8")
def _left_right(call: _Call) -> str:
    # CH left/right accept NEGATIVE lengths (left(s, -n) trims
    # the last n chars; right(s, -n) trims the first n) where
    # Spark's builtins return '' — both args bind once, and a
    # NULL length propagates NULL like every ordinary CH
    # function (review r11a: Spark's greatest() would have
    # swallowed it).  The non-UTF8 spellings count BYTES in
    # CH; Spark strings are UTF-8/codepoint-based, and a
    # byte-split multi-byte char is not representable as a
    # Spark string — ASCII-equal, codepoint semantics (≡ the
    # UTF8 forms) beyond that.
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(s, n) expects 2 args")
    fn = "left" if call.name.lower().startswith("left") else "right"
    if fn == "left":
        neg = "substr({v}.s, 1, greatest(length({v}.s) + {v}.n, 0))"
    else:
        neg = "substr({v}.s, 1 - {v}.n)"
    return _bind_once(
        f"named_struct('s', ({parts[0]}), 'n', ({parts[1]}))",
        lambda v: (
            f"CASE WHEN {v}.n IS NULL THEN NULL "
            f"WHEN {v}.n >= 0 THEN {fn}({v}.s, {v}.n) "
            f"ELSE {neg.format(v=v)} END"))


@_calls("greatest", "least", "max2", "min2", "concat_ws", ci=True)
@_calls("concatWithSeparator")
def _null_propagating(call: _Call) -> str:
    # CH propagates NULL through all three families ("returns
    # NULL if any argument is NULL"); Spark's greatest/least/
    # concat_ws SKIP null arguments — greatest(1, NULL) is 1
    # in Spark, NULL in CH (ADVICE r10).  Bind-once struct +
    # any-arg-NULL guard, same envelope as divide()/format().
    name, parts = call.name, call.parts
    minarg = 2 if name.lower() != "concat_ws" else 1
    if name.lower() in ("max2", "min2") and len(parts) != 2:
        raise UnsupportedChSql(f"{name}(a, b) expects 2 args")
    if len(parts) < minarg:
        raise UnsupportedChSql(
            f"{name} expects at least {minarg} arguments")
    fn = {"max2": "greatest", "min2": "least",
          "concatwithseparator": "concat_ws"}.get(
              name.lower(), name.lower())
    fields = ", ".join(f"'a{ix}', ({p})" for ix, p in enumerate(parts))
    return _bind_once(
        f"named_struct({fields})",
        lambda v: (
            "CASE WHEN "
            + " OR ".join(f"{v}.a{ix} IS NULL"
                          for ix in range(len(parts)))
            + " THEN NULL ELSE "
            + fn + "("
            + ", ".join(f"{v}.a{ix}" for ix in range(len(parts)))
            + ") END"))


@_calls("editDistance", "levenshteinDistance")
def _edit_distance(call: _Call) -> str:
    # CH's byte-string Levenshtein, exact on ANY input
    # (r12c — the r11j multi-byte runtime raise is gone):
    # ASCII stays on Spark's codegen levenshtein (bytes ==
    # codepoints there); multi-byte rows dispatch to the
    # ch_levenshtein_bytes fold shim per row.  The UDF binds each
    # argument once and carries the ASCII fast path (plain
    # levenshtein) inside — a lambda-var _bind_once envelope cannot
    # call a SQL UDF (its inlined subplan cannot see the lambda
    # variable)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(a, b) expects 2 args")
    return f"ch_levenshtein_bytes(({parts[0]}), ({parts[1]}))"


@_calls("JSONExtractKeys")
def _json_extract_keys(call: _Call) -> str:
    # CH: outermost object keys; [] for invalid JSON or a
    # non-object (the JSONExtract-family default) where
    # Spark's json_object_keys answers NULL; NULL input
    # propagates.  The variadic indices_or_keys walk raises
    # by name (review r11i).
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(
            "JSONExtractKeys(json) is bridged 1-arg only — "
            "the indices_or_keys walk is not; extract the "
            "nested object with get_json_object first")
    return _bind_once(
        f"({parts[0]})",
        lambda v: (f"CASE WHEN {v} IS NULL THEN NULL ELSE "
                   f"coalesce(json_object_keys({v}), array()) END"))


@_calls("arrayEnumerateUniq")
def _array_enumerate_uniq(call: _Call) -> str:
    # CH: per element, its occurrence index among EQUAL
    # values so far ([10,20,10] → [1,1,2]); NULL elements
    # count as normal values (the hasAll/indexOf rule), hence
    # <=> .  O(n²) per array — array scale, not row scale
    # (r11i)
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("arrayEnumerateUniq(arr) 1-array form only")
    return _bind_once(
        f"({parts[0]})",
        lambda v: (f"transform({v}, (__x, __i) -> 1 + "
                   f"size(filter(slice({v}, 1, __i), "
                   f"__y -> __y <=> __x)))"))


@_calls("arrayEnumerateDense")
def _array_enumerate_dense(call: _Call) -> str:
    # CH: rank of each element's FIRST occurrence
    # ([10,20,10] → [1,2,1]) — position in the distinct
    # array, NULL-safe via the indexOf pattern; the distinct
    # array binds ONCE in the struct, not per element
    # (review r11i)
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("arrayEnumerateDense(arr) expects 1 array")
    return _bind_once(
        f"({parts[0]})",
        lambda v: _bind_once(
            f"array_distinct({v})",
            lambda d: (f"transform({v}, __x -> CAST("
                       f"array_position(transform({d}, "
                       f"__e -> __e <=> __x), true) AS INT))")))


@_calls("arrayIntersect")
def _array_intersect(call: _Call) -> str:
    # CH: distinct elements present in ALL argument arrays;
    # CH documents no result ORDER — Spark's array_intersect
    # keeps first-array order, inside that contract.  The
    # variadic form folds the binary builtin (r11i)
    parts = call.parts
    if len(parts) < 2:
        raise UnsupportedChSql("arrayIntersect(a, b, …) expects 2+ arrays")
    expr = f"({parts[0]})"
    for p in parts[1:]:
        expr = f"array_intersect({expr}, ({p}))"
    return expr


@_calls("multiSearchAny")
def _multi_search_any(call: _Call) -> str:
    # CH multiSearchAny(h, [n1, n2, …]): 1 iff ANY needle is
    # a substring (byte/char-blind for a boolean) (r11i)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            "multiSearchAny(haystack, needles) expects 2 args")
    return _bind_once(
        f"named_struct('h', ({parts[0]}), 'a', ({parts[1]}))",
        lambda v: f"exists({v}.a, __n -> contains({v}.h, __n))")


@_calls("multiSearchAnyCaseInsensitive")
def _multi_search_any_ci(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            f"{call.name}(haystack, [needles]) expects 2 args")
    hay, arr = parts
    return f"exists({arr}, __x -> contains(lower({hay}), lower(__x)))"


#: tokens()'s separator class: the non-alphanumeric ASCII ranges, as
#: a regex inside a SQL string literal
_TOKEN_SEP = ("[\\\\x00-\\\\x2f\\\\x3a-\\\\x40\\\\x5b-\\\\x60"
              "\\\\x7b-\\\\x7f]")


@_calls("hasToken", "hasTokenOrNull")
def _has_token(call: _Call) -> str:
    # CH hasToken: the needle appears as a WHOLE token under
    # tokens()'s rule (non-alphanumeric-ASCII separators) —
    # expressed as membership in the same split the tokens()
    # bridge emits, so the two stay rule-identical.  CH
    # THROWS when the needle itself contains a separator
    # (OrNull answers NULL) — checked at translate time for
    # literals, at runtime otherwise (r11i).
    name, parts = call.name, call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{name}(haystack, token) expects 2 args")
    tok = parts[1].strip()
    # a TRUE literal only (review r11i: `'a' || 'b'` also
    # starts and ends with a quote); the separator test is
    # the ASCII class itself — bytes ≥ 0x80 (and astral
    # chars) are token characters in CH
    is_lit = (tok.startswith("'") and tok.endswith("'")
              and len(tok) >= 2
              and "'" not in tok[1:-1].replace("''", ""))
    if is_lit:
        interior = tok[1:-1].replace("''", "'")
        if interior == "" or re.search(
                "[\x00-\x2f\x3a-\x40\x5b-\x60\x7b-\x7f]", interior):
            why = ("is empty" if interior == ""
                   else "contains tokenizer separators")
            if name == "hasToken":
                raise UnsupportedChSql(
                    f"hasToken: needle {tok} {why} — "
                    "ClickHouse throws here; use "
                    "hasTokenOrNull or position()")
            return "CAST(NULL AS BOOLEAN)"
    bad = f"rlike({{v}}.t, '{_TOKEN_SEP}') OR length({{v}}.t) = 0"
    body = (f"array_contains(filter(split({{v}}.h, "
            f"'{_TOKEN_SEP}+'), __x -> __x != ''), {{v}}.t)")
    onbad = ("CAST(NULL AS BOOLEAN)" if name == "hasTokenOrNull"
             else "raise_error('hasToken: the token is empty "
                  "or contains tokenizer separator characters "
                  "— ClickHouse throws; use hasTokenOrNull')")
    return _bind_once(
        f"named_struct('h', ({parts[0]}), 't', ({parts[1]}))",
        lambda v: (f"CASE WHEN {bad.format(v=v)} THEN {onbad} "
                   f"ELSE {body.format(v=v)} END"))


def _capture_groups(body_re: str) -> int:
    """Count the CAPTURING groups of an unescaped Java regex: ``(``
    counts unless it opens a ``(?…)`` construct, except Java's named
    ``(?<name>…)``, which captures."""
    ngroups, k, in_cls = 0, 0, False
    while k < len(body_re):
        ch = body_re[k]
        if ch == "\\":
            k += 2
            continue
        if in_cls:
            in_cls = ch != "]"
        elif ch == "[":
            in_cls = True
        elif ch == "(":
            nxt = body_re[k + 1: k + 2]
            nxt2 = body_re[k + 2: k + 3]
            if nxt != "?" or (nxt2 == "<"
                              and body_re[k + 3: k + 4] not in ("=", "!")):
                ngroups += 1
        k += 1
    return ngroups


@_calls("extractGroups")
def _extract_groups(call: _Call) -> str:
    # CH extractGroups(h, 'pattern'): the capture groups of
    # the FIRST match as an array; [] when nothing matches.
    # The group COUNT comes from compiling the literal
    # pattern at translate time (r11i)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            "extractGroups(haystack, pattern) expects 2 args")
    pat = parts[1].strip()
    if not (pat.startswith("'") and pat.endswith("'")
            and "'" not in pat[1:-1].replace("''", "")):
        raise UnsupportedChSql(
            "extractGroups needs a LITERAL pattern (the group "
            "count shapes the result array)")
    # count on the UNESCAPED regex body with a Java-semantics scanner
    # (review r11i: Python re.compile over the still-SQL-escaped text
    # miscounted '\\\\(' shapes, and Python-only syntax like (?P<…>)
    # passed validation Java then rejects)
    ngroups = _capture_groups(
        pat[1:-1].replace("''", "'").replace("\\\\", "\\"))
    if ngroups == 0:
        raise UnsupportedChSql("extractGroups pattern has no capture groups")
    return _bind_once(
        f"({parts[0]})",
        lambda v: (f"CASE WHEN {v} RLIKE {pat} THEN array("
                   + ", ".join(f"regexp_extract({v}, {pat}, {g})"
                               for g in range(1, ngroups + 1))
                   + ") ELSE array() END"))


@_calls("overlay", "overlayUTF8", ci=True)
def _overlay(call: _Call) -> str:
    # CH overlay(s, replace, offset[, length]) (24.x, added
    # for standard compat) ALSO accepts NEGATIVE offsets
    # counted from the end of s — Spark's captured builtin
    # does not (review r11g).  offset -1 = the last
    # character: position = length(s) + offset + 1.  The
    # UTF8 spelling is the same function here (Spark strings
    # are codepoint-based).
    parts = call.parts
    if len(parts) not in (3, 4):
        raise UnsupportedChSql(
            f"{call.name}(s, replace, offset[, length]) expects 3-4 args")
    ln = f", {parts[3]}" if len(parts) == 4 else ""
    return _bind_once(
        f"named_struct('s', ({parts[0]}), 'r', ({parts[1]}), "
        f"'o', CAST(({parts[2]}) AS INT))",
        lambda v: (
            f"CASE WHEN {v}.o >= 1 THEN "
            f"overlay({v}.s, {v}.r, {v}.o{ln}) "
            f"WHEN {v}.o <= -1 THEN overlay({v}.s, {v}.r, "
            f"greatest(length({v}.s) + {v}.o + 1, 1){ln}) "
            f"ELSE raise_error('overlay() offset 0: "
            f"ClickHouse offsets are 1-based or negative-"
            f"from-the-end — 0 has no documented meaning') "
            f"END"))


@_calls("boundingRatio")
def _bounding_ratio(call: _Call) -> str:
    # CH boundingRatio(x, y): the slope between the LEFTMOST
    # and RIGHTMOST points of the group by x — (y at max x −
    # y at min x) / (max x − min x).  Pure min/max_by
    # aggregates (one hash agg, map-side partials); duplicate
    # extreme x values pick an arbitrary y, CH's own
    # envelope.  Rows where EITHER argument is NULL are
    # skipped like CH's aggregate-NULL rule (the filtered x
    # doubles as the max_by/min_by key, which ignores NULL
    # keys), and a zero x-span answers nan/±inf through the
    # divide() float envelope instead of Spark's ANSI
    # DIVIDE_BY_ZERO (review r11g)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("boundingRatio(x, y) expects 2 args")
    x0 = f"CAST(({parts[0]}) AS DOUBLE)"
    y0 = f"CAST(({parts[1]}) AS DOUBLE)"
    ok = f"(({x0}) IS NOT NULL AND ({y0}) IS NOT NULL)"
    xf = f"CASE WHEN {ok} THEN {x0} END"
    yf = f"CASE WHEN {ok} THEN {y0} END"
    dy = f"(max_by({yf}, {xf}) - min_by({yf}, {xf}))"
    dx = f"(max({xf}) - min({xf}))"
    return _bind_once(
        f"named_struct('dy', {dy}, 'dx', {dx})",
        lambda v: (
            f"CASE WHEN {v}.dx IS NULL THEN CAST(NULL AS "
            f"DOUBLE) WHEN {v}.dx = 0 THEN CASE "
            f"WHEN {v}.dy = 0 THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {v}.dy > 0 THEN CAST('Infinity' AS DOUBLE) "
            f"ELSE CAST('-Infinity' AS DOUBLE) END "
            f"ELSE {v}.dy / {v}.dx END"))


@_calls("intervalLengthSum")
def _interval_length_sum(call: _Call) -> str:
    # CH intervalLengthSum(start, end): total length of the
    # UNION of the group's segments — overlaps merge, gaps
    # don't count.  Sorted fold over the collected (s, e)
    # pairs (the windowFunnel fold pattern): state = (cover
    # end so far, total); a segment past the cover adds its
    # whole length, an overlapping one adds only the
    # extension.  Tie-safe by construction: the MEASURE of a
    # boundary point is 0, so closed-vs-open touching
    # segments sum identically (r11g).  Computes in DOUBLE
    # (CH returns the integer type for integer bounds —
    # exact through 2^53, the module's standard envelope).
    # SCALE: the collected state is O(intervals per group) —
    # the topK-fallback shape; grafana-panel groups are fine,
    # a million-interval group wants the window spelling
    # instead (sum over max(e) OVER (PARTITION BY key
    # ORDER BY s, e ROWS … 1 PRECEDING) — the ev26 oracle's
    # form; rehearsed in tools/scale_rehearsal_round11.py).
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("intervalLengthSum(start, end) expects 2 args")
    s0 = f"CAST(({parts[0]}) AS DOUBLE)"
    e0 = f"CAST(({parts[1]}) AS DOUBLE)"
    evs = (f"array_sort(collect_list(CASE WHEN {s0} IS NOT "
           f"NULL AND {e0} IS NOT NULL THEN "
           f"named_struct('s', {s0}, 'e', {e0}) END))")
    return (f"aggregate({evs}, "
            f"named_struct('c', CAST('-Infinity' AS DOUBLE), "
            f"'t', CAST(0 AS DOUBLE)), "
            f"(acc, iv) -> named_struct("
            f"'c', greatest(acc.c, iv.e), "
            f"'t', acc.t + CASE WHEN iv.e <= acc.c THEN 0.0 "
            f"WHEN iv.s >= acc.c THEN iv.e - iv.s "
            f"ELSE iv.e - acc.c END), "
            f"acc -> acc.t)")


@_calls("studentTTest", "welchTTest")
def _t_test(call: _Call) -> str:
    # CH studentTTest/welchTTest(sample_data, sample_index):
    # two-sample t-test over index 0 vs 1, returning the
    # (t, p) tuple (r12d — the r11k raise is gone).  The t
    # statistic and degrees of freedom are plain conditional
    # aggregates; the two-sided p-value is the regularized
    # incomplete beta I_{df/(df+t^2)}(df/2, 1/2) via the
    # ch_t_pvalue shim (Lanczos lgamma + a bounded Lentz
    # continued-fraction fold — pure JVM, no Python).
    # Degenerate inputs (an empty side, a single point, zero
    # pooled variance) answer (NaN, NaN) — CH's float NaNs;
    # nullif guards keep ANSI mode from raising DIVIDE_BY_ZERO.
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            f"{call.name}(sample_data, sample_index) expects 2 args"
            " — the parameterized confidence-interval form is"
            " not bridged")
    xv = f"CAST(({parts[0]}) AS DOUBLE)"
    ix = f"({parts[1]})"

    def _agg(fn: str, side: int) -> str:
        return f"{fn}(CASE WHEN {ix} = {side} THEN {xv} END)"

    n0 = f"nullif(CAST({_agg('count', 0)} AS DOUBLE), 0)"
    n1 = f"nullif(CAST({_agg('count', 1)} AS DOUBLE), 0)"
    m0, m1 = _agg("avg", 0), _agg("avg", 1)
    v0, v1 = _agg("var_samp", 0), _agg("var_samp", 1)
    if call.name == "studentTTest":
        df = f"nullif({n0} + {n1} - 2, 0)"
        sp2 = f"((({n0} - 1) * {v0} + ({n1} - 1) * {v1}) / {df})"
        tstat = (f"(({m0} - {m1}) / nullif(sqrt({sp2} *"
                 f" (1 / {n0} + 1 / {n1})), 0))")
    else:
        se0 = f"({v0} / {n0})"
        se1 = f"({v1} / {n1})"
        se2 = f"({se0} + {se1})"
        tstat = f"(({m0} - {m1}) / nullif(sqrt({se2}), 0))"
        df = (f"({se2} * {se2} / nullif("
              f"{se0} * {se0} / nullif({n0} - 1, 0) +"
              f" {se1} * {se1} / nullif({n1} - 1, 0), 0))")
    nan = "CAST('NaN' AS DOUBLE)"
    # bind (t, df) ONCE through a one-element transform and
    # splice the p-value INLINE from the same builders as the
    # ch_t_pvalue shim — calling the SQL UDF here would break:
    # extracting a field from a struct that carries both
    # aggregates and an inlined UDF is unevaluable in Spark
    # (UDF inlining x SimplifyExtractValueOps, r12d)
    return (f"(transform(array(named_struct("
            f"'t', {tstat}, 'df', {df})), "
            f"__ts -> named_struct("
            f"'col1', coalesce(__ts.t, {nan}), "
            f"'col2', coalesce("
            f"{_t_pvalue_text('__ts.t', '__ts.df')}, {nan}))))[0]")


@_calls("simpleLinearRegression")
def _simple_linear_regression(call: _Call) -> str:
    # CH simpleLinearRegression(x, y) fits y ≈ k·x + b and
    # returns the tuple (k, b) — exactly Spark's OLS pair
    # regr_slope/regr_intercept with the DEPENDENT variable
    # first (the argument roles swap); colN field names keep
    # tupleElement positional access working (r11f)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            "simpleLinearRegression(x, y) expects 2 arguments")
    x = f"CAST(({parts[0]}) AS DOUBLE)"
    y = f"CAST(({parts[1]}) AS DOUBLE)"
    # degenerate groups (a single point, zero x-variance, or
    # no valid pairs): CH answers (nan, nan) where
    # regr_slope/intercept answer NULL — coalesce to NaN so
    # downstream isNaN()/comparison logic branches like CH
    # (review r11f)
    nan = "CAST('NaN' AS DOUBLE)"
    return (f"named_struct("
            f"'col1', coalesce(regr_slope({y}, {x}), {nan}), "
            f"'col2', coalesce(regr_intercept({y}, {x}), {nan}))")


@_calls("isNaN", ci=True)
def _is_nan(call: _Call) -> str:
    # CH isNaN(NULL) is NULL (ordinary NULL propagation);
    # Spark isnan(NULL) is false — silent on nullable columns
    return _bind_once(
        f"({call.inner})",
        lambda v: f"CASE WHEN {v} IS NULL THEN NULL ELSE isnan({v}) END")


@_calls("hex", ci=True)
def _hex(call: _Call) -> str:
    # CH hex() of an INTEGER pads to the source type's byte
    # width (hex(10) = '0A'); Spark answers the minimal 'A'.
    # String/binary inputs are byte-identical on both engines
    # — typeof() dispatch keeps them and turns the integer
    # path into a RUNTIME raise (loud, never silent).
    return _bind_once(
        f"({call.inner})",
        lambda v: (
            f"CASE WHEN typeof({v}) IN ('string', 'binary') "
            f"THEN hex({v}) ELSE raise_error(concat("
            f"'hex() over ', typeof({v}), ': CH pads to the "
            f"source integer WIDTH, unknowable from Spark''s "
            f"BIGINT — use Spark hex() for minimal-width')) "
            f"END"))


@_calls("unhex", ci=True)
def _unhex(call: _Call) -> str:
    # CH unhex returns String (raw bytes); Spark returns
    # BINARY — CAST bridges (byte-identical for valid UTF-8;
    # CH strings holding non-UTF8 bytes are not representable)
    return f"CAST(unhex({call.inner}) AS STRING)"


_DATE_ADD_UNITS = {"YEAR", "QUARTER", "MONTH", "WEEK", "DAY",
                   "HOUR", "MINUTE", "SECOND"}


@_calls("dateAdd", "date_add", "dateSub", "date_sub", "timestampSub",
        "timestamp_sub", ci=True)
def _date_add(call: _Call) -> str | None:
    # CH 3-arg form date_add(unit, n, ts) == Spark
    # timestampadd's argument order (the timestampAdd rename);
    # Spark's captured date_add(date, days) has the
    # ARGUMENTS REVERSED, so a passthrough would crash or
    # silently mis-add.  Documented deviation: timestampadd
    # always returns TIMESTAMP where CH date_add over a Date
    # returns Date — wrap in toDate() to keep a date.  The
    # 2-arg INTERVAL form maps to type-PRESERVING +/-
    # arithmetic instead.  A 2-arg non-INTERVAL call is not
    # valid CH — it is kept as Spark's own date_add(date, days).
    parts = call.parts
    neg = "sub" in call.name.lower()
    if len(parts) == 3:
        unit = parts[0].strip().strip("'\"").upper()
        if unit not in _DATE_ADD_UNITS:
            raise UnsupportedChSql(
                f"{call.name}: unit {parts[0].strip()!r} not in "
                f"{sorted(_DATE_ADD_UNITS)}")
        n_expr = f"-({parts[1]})" if neg else parts[1]
        return f"timestampadd({unit}, {n_expr}, {parts[2]})"
    if len(parts) == 2 and re.match(r"(?is)^\s*INTERVAL\b", parts[1]):
        op = "-" if neg else "+"
        return f"(({parts[0]}) {op} ({parts[1]}))"
    return None


@_calls("isZeroOrNull")
def _is_zero_or_null(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("isZeroOrNull(x) expects 1 arg")
    return _bind_once(f"({parts[0]})", lambda v: f"({v} IS NULL OR {v} = 0)")


@_calls("sumArray", "countArray", "avgArray", "minArray", "maxArray",
        "groupArrayArray")
def _array_combinator(call: _Call) -> str:
    # -Array combinator family: aggregate over every ELEMENT
    # of the array column across rows (r10b).  Decomposable
    # forms ride plain aggregates of per-row reductions —
    # partial/final map-side combine preserved, no explode.
    # sumArray/avgArray share arraySum's documented DOUBLE
    # accumulation contract.
    name, parts = call.name, call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(f"{name}(arr) expects 1 argument")
    a = parts[0]
    # empty input SET follows the bridge's count/sum
    # discipline: CH returns 0/0/nan, Spark's bare aggregates
    # return NULL (review r10b)
    if name == "sumArray":
        return f"coalesce(sum({_ARR_SUM.format(a=a)}), CAST(0 AS DOUBLE))"
    if name == "countArray":
        return f"CAST(coalesce(sum(size({a})), 0) AS BIGINT)"
    if name == "avgArray":
        # CH avgArray over zero elements (or zero rows) → nan
        return (f"(CASE WHEN coalesce(sum(size({a})), 0) = 0 "
                f"THEN CAST('NaN' AS DOUBLE) "
                f"ELSE sum({_ARR_SUM.format(a=a)}) / sum(size({a})) "
                f"END)")
    if name == "minArray":
        return f"min(array_min({a}))"
    if name == "maxArray":
        return f"max(array_max({a}))"
    # groupArrayArray: concatenation, order arbitrary
    # in BOTH engines (CH documents the order as undefined)
    return f"flatten(collect_list({a}))"


@_calls("lagInFrame", "leadInFrame")
def _lag_lead_in_frame(call: _Call) -> str:
    # CH has NO plain lag/lead — lagInFrame/leadInFrame over
    # the explicit full frame IS the CH spelling of ANSI
    # lag()/lead() (CH window-functions docs' own idiom).
    # Spark's lag/lead forbid an explicit frame, so the full
    # frame is stripped from the OVER clause.  Other frames
    # are frame-dependent in CH (the function reads within
    # the frame) and raise; frameless lagInFrame equals lag
    # under CH's default frame, frameless leadInFrame does
    # NOT equal lead (the default frame ends at the current
    # row) and raises.
    name, sql, k = call.name, call.sql, call.after()
    base = "lag" if name == "lagInFrame" else "lead"
    om = re.match(r"(?is)OVER\s*\(", sql[k:])
    if om is None:
        raise UnsupportedChSql(
            f"{name} needs an inline OVER (...) clause — named "
            "WINDOW references are not bridged")
    oopen = k + om.end() - 1
    oclose = _find_close(sql, oopen)
    over = sql[oopen + 1: oclose]
    stripped = re.sub(
        r"(?is)\s*ROWS\s+BETWEEN\s+UNBOUNDED\s+PRECEDING\s+AND"
        r"\s+UNBOUNDED\s+FOLLOWING\s*$", "", over)
    if stripped == over and name == "lagInFrame":
        # frames whose LOWER bound is unbounded still cover
        # every lag offset — the shorthand `ROWS UNBOUNDED
        # PRECEDING` and the `BETWEEN UNBOUNDED PRECEDING AND
        # CURRENT ROW` form are lag-equivalent (review r10b)
        stripped = re.sub(
            r"(?is)\s*(?:ROWS|RANGE|GROUPS)\s+(?:BETWEEN\s+)?"
            r"UNBOUNDED\s+PRECEDING"
            r"(?:\s+AND\s+CURRENT\s+ROW)?\s*$", "", over)
    if stripped == over and (
            re.search(r"(?is)\b(ROWS|RANGE|GROUPS)\b", over)
            or name == "leadInFrame"):
        raise UnsupportedChSql(
            f"{name} with a frame that does not cover the "
            "offset reads within that frame in CH and has "
            "no Spark lag/lead equivalent — use ROWS "
            "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
            "FOLLOWING")
    call.end = oclose + 1
    return f"{base}({call.inner}) OVER ({_rewrite_calls(stripped)})"


@_calls("extract", ci=True)
def _extract(call: _Call) -> str:
    # CH extract(haystack, 'regexp') = first match (or the
    # first capture group if the pattern has one); the name
    # is a CASE-INSENSITIVE CH registration.  Only the comma
    # form with a LITERAL pattern rewrites — `EXTRACT(
    # field FROM ts)` has no top-level comma and passes
    # through to Spark's builtin untouched.
    parts = call.parts
    if len(parts) == 2 and parts[1].strip().startswith("'"):
        pat = parts[1].strip()
        group = 1 if _regex_has_capture_group(pat[1:-1]) else 0
        return f"regexp_extract({parts[0]}, {pat}, {group})"
    if len(parts) == 2:
        # a comma form with a NON-literal pattern: the group
        # index (whole match vs first subpattern) depends on
        # the pattern's text — raise instead of guessing, and
        # instead of letting Spark's extract() capture it
        # (collision sweep r11a)
        raise UnsupportedChSql(
            "extract(haystack, re) needs a LITERAL pattern — "
            "CH returns the first capture group when the "
            "pattern has one, the whole match otherwise, "
            "which a rewrite cannot decide for a runtime "
            "pattern; spell regexp_extract(h, p, group)")
    return f"extract({call.inner})"


@_calls("groupArray", "groupUniqArray")
def _group_array(call: _Call) -> str:
    if call.has_params:
        raise UnsupportedChSql(
            f"{call.name}(N)(x) max-size form not supported — CH keeps "
            "the FIRST N in read order, which Spark's unordered "
            "collect cannot honor; use the plain form + slice, or "
            "an explicit window"
        )
    return call.plain("collect_list" if call.name == "groupArray"
                      else "collect_set")


@_calls("assumeNotNull")
def _assume_not_null(call: _Call) -> str:
    return f"({call.inner})"  # relational no-op on Spark


@_calls(*_ADDSUB_UNITS)
def _add_sub_unit(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(ts, n) expects 2 arguments")
    unit, sign = _ADDSUB_UNITS[call.name]
    n_expr = parts[1] if sign > 0 else f"-({parts[1]})"
    return f"timestampadd({unit}, {n_expr}, {parts[0]})"


@_calls("dateDiff", "date_diff", "timestamp_diff", "timestampDiff",
        ci=True)
def _date_diff(call: _Call) -> str:
    # CH registers these aliases CASE-INSENSITIVELY (its one
    # exception to case-sensitive function names) — matching
    # exact spellings only would let TIMESTAMPDIFF fall
    # through to Spark's complete-interval builtin, the
    # silent mistranslation _datediff_expr exists to prevent
    # (review r10g).  The alias spellings accept a BARE
    # identifier unit (timestamp_diff(DAY, a, b)) — quote it
    # for the shared boundary-crossing expression.
    parts = call.parts
    if parts and re.fullmatch(r"[A-Za-z]+", parts[0].strip()):
        parts[0] = f"'{parts[0].strip().lower()}'"
    return _datediff_expr(parts)


@_calls("sumCount")
def _sum_count(call: _Call) -> str:
    # CH sumCount(x) → tuple (sum, count) — two sibling
    # aggregates in a colN-named struct so tupleElement
    # positional access resolves (r10g)
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("sumCount(x) expects 1 argument")
    return f"named_struct('col1', sum({parts[0]}), 'col2', count({parts[0]}))"


@_calls("formatDateTime")
def _format_date_time(call: _Call) -> str:
    return _format_datetime_expr(call.parts)


@_calls(*_LAMBDA_SWAP)
def _lambda_swap(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(
            f"{call.name}(lambda, arr) with exactly one array is "
            "supported (Spark's HOFs take a single array)"
        )
    return f"{_LAMBDA_SWAP[call.name]}({parts[1]}, {parts[0]})"


@_calls("arrayCount")
def _array_count(call: _Call) -> str:
    parts = call.parts
    if len(parts) == 1:
        # 1-arg form counts TRUTHY elements (non-zero,
        # non-NULL) like every CH higher-order default (r10d)
        return f"size(filter({parts[0]}, __x -> __x IS NOT NULL AND __x != 0))"
    if len(parts) != 2:
        raise UnsupportedChSql("arrayCount(lambda, arr) expects 2 args")
    return f"size(filter({parts[1]}, {parts[0]}))"


@_calls("arrayFold")
def _array_fold(call: _Call) -> str:
    # CH arrayFold(lambda, arr, init) ≡ Spark aggregate(arr,
    # init, lambda) — both lambdas are (acc, x) (r10d)
    parts = call.parts
    if len(parts) != 3 or not _is_lambda_arg(parts[0]):
        raise UnsupportedChSql(
            "arrayFold(lambda, arr, init) with exactly one "
            "array is supported")
    return f"aggregate({parts[1]}, {parts[2]}, {parts[0]})"


@_calls("arrayResize")
def _array_resize(call: _Call) -> str:
    # 3-arg form (explicit extender) is exact; the 2-arg form
    # pads with the element TYPE's default, which SQL text
    # cannot know — raise naming the workaround (r10d)
    parts = call.parts
    if len(parts) != 3:
        raise UnsupportedChSql(
            "arrayResize(arr, size) pads with the element type's "
            "default — spell the 3-arg form with an explicit "
            "extender (arrayResize(arr, size, 0))")
    a, sz, ext = parts
    return _bind_once(
        f"named_struct('a', {a}, 'n', CAST(({sz}) AS INT))",
        lambda v: (
            f"CASE WHEN {v}.n <= 0 THEN slice({v}.a, 1, 0) "
            f"WHEN {v}.n <= size({v}.a) "
            f"THEN slice({v}.a, 1, {v}.n) "
            f"ELSE concat({v}.a, array_repeat(({ext}), "
            f"{v}.n - size({v}.a))) END"))


@_calls("format")
def _format(call: _Call) -> str | None:
    # CH format('{}-{}', a, b) / format('{1} {0}', a, b) →
    # format_string('%s-%s', args[, reordered]) (r10e).  Only
    # the literal-pattern form rewrites; CH forbids mixing
    # auto {} and manual {N} indexing, and so does this.
    if not call.inner.strip().startswith("'"):
        return None
    parts = call.parts
    pat = parts[0].strip()
    if not (pat.startswith("'") and pat.endswith("'")):
        raise UnsupportedChSql("format() needs a literal pattern string")
    args = parts[1:]
    auto = manual = 0
    order: list[int] = []
    new_body = []    # %-escaped, for format_string
    plain_body = []  # unescaped, for the zero-placeholder path
    for t in re.split(r"(\{\{|\}\}|\{\d*\})", pat[1:-1]):
        if t == "{{":
            new_body.append("{")
            plain_body.append("{")
        elif t == "}}":
            new_body.append("}")
            plain_body.append("}")
        elif re.fullmatch(r"\{\d+\}", t or ""):
            manual += 1
            order.append(int(t[1:-1]))
            new_body.append("%s")
        elif t == "{}":
            auto += 1
            order.append(auto - 1)
            new_body.append("%s")
        else:
            new_body.append(t.replace("%", "%%"))
            plain_body.append(t)
    if auto and manual:
        raise UnsupportedChSql(
            "format() cannot mix automatic {} and manual {N} "
            "indexing (the CH rule)")
    if any(ix >= len(args) for ix in order):
        raise UnsupportedChSql(
            "format() placeholder index exceeds the argument list")
    # the body slice is ALREADY in SQL-escaped form ('' for a
    # quote inside the original literal) — re-escaping would
    # corrupt the value (review r10f)
    fmt = "".join(new_body)
    if not order:
        # no placeholders: a plain literal, WITHOUT the
        # %-escaping format_string would need (review r10f)
        return f"'{''.join(plain_body)}'"
    # NULL arguments propagate NULL like CH string functions
    # (format_string would render the text \"null\"); args
    # bind once through the usual envelope
    binds = ", ".join(f"'a{ix}', CAST(({a}) AS STRING)"
                      for ix, a in enumerate(args, 1))
    return _bind_once(
        f"named_struct({binds})",
        lambda v: (
            "CASE WHEN "
            + " OR ".join(f"{v}.a{ix + 1} IS NULL"
                          for ix in sorted(set(order)))
            + " THEN CAST(NULL AS STRING) ELSE format_string('"
            + fmt + "'"
            + "".join(f", {v}.a{ix + 1}" for ix in order)
            + ") END"))


@_calls("materialize", "identity", "toNullable")
def _no_op_wrapper(call: _Call) -> str:
    # CH engine hints / type-nullability wrappers: relational
    # no-ops here (every Spark column is nullable; the
    # assumeNotNull twin is handled above) (r10e)
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(f"{call.name}(x) expects 1 argument")
    return f"({parts[0]})"


@_calls("sign")
def _sign(call: _Call) -> str:
    # CH sign() returns Int8 (-1/0/1); Spark's returns DOUBLE
    # — numerically equal but a silent TYPE diff in rendered
    # results (r10e)
    return f"CAST(sign({call.inner}) AS INT)"


@_calls(*(f"toInterval{u}" for u in (
    "Second", "Minute", "Hour", "Day", "Week", "Month", "Quarter",
    "Year")))
def _to_interval(call: _Call) -> str:
    # CH toIntervalX(n) → n * INTERVAL 1 X.  DEVIATION: Spark
    # types date + day-time-interval as TIMESTAMP where CH
    # keeps Date; year-month intervals keep DATE on both.
    unit = call.name[10:].upper()
    if unit == "WEEK":
        return f"(({call.inner}) * INTERVAL '7' DAY)"
    if unit == "QUARTER":
        return f"(({call.inner}) * INTERVAL '3' MONTH)"
    return f"(({call.inner}) * INTERVAL '1' {unit})"


@_calls("tokens")
def _tokens(call: _Call) -> str:
    # CH tokens() default tokenizer: NON-ALPHANUMERIC ASCII
    # characters are the separators — non-ASCII bytes
    # (Cyrillic letters, unicode punctuation) stay inside
    # tokens, so the split class is the explicit ASCII
    # non-alnum ranges, not \\P{Alnum} (r10d)
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("tokens(s) 1-arg default tokenizer only")
    return f"filter(split({parts[0]}, '{_TOKEN_SEP}+'), __x -> __x != '')"


@_calls("splitByWhitespace")
def _split_by_whitespace(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql("splitByWhitespace(s) expects 1 arg")
    return f"filter(split({parts[0]}, '\\\\s+'), __x -> __x != '')"


@_calls("ngrams")
def _ngrams(call: _Call) -> str:
    # character n-grams; CH operates on BYTES — identical for
    # ASCII, code-point-based here (same family of documented
    # UTF-8 deviations as substring/length) (r10d)
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("ngrams(s, n) expects 2 args")
    return _bind_once(
        f"named_struct('s', ({parts[0]}), 'n', CAST(({parts[1]}) AS INT))",
        lambda v: (
            # sequence(1, 0) would count DOWN — guard short
            # strings to an empty array instead
            f"CASE WHEN length({v}.s) < {v}.n "
            f"THEN CAST(array() AS ARRAY<STRING>) "
            f"ELSE transform(sequence(1, "
            f"length({v}.s) - {v}.n + 1), "
            f"__i -> substring({v}.s, __i, {v}.n)) END"))


@_calls("argMaxIf", "argMinIf")
def _arg_if(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 3:
        raise UnsupportedChSql(f"{call.name}(x, by, cond) expects 3 args")
    base = "max_by" if call.name == "argMaxIf" else "min_by"
    x, by, cond = parts
    return (f"{base}(CASE WHEN {_ch_cond(cond)} THEN {x} END, "
            f"CASE WHEN {_ch_cond(cond)} THEN {by} END)")


@_calls("splitByString", "splitByChar")
def _split_by_string(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2 or not (
            parts[0].startswith("'") and parts[0].endswith("'")):
        raise UnsupportedChSql(f"{call.name} expects a literal separator")
    return f"split({parts[1]}, '{_sep_regex_lit(parts[0])}')"


@_calls(*_PARAMETERIZED_PLURAL)
def _quantiles(call: _Call) -> str | None:
    if not call.has_params:
        return None
    args = call.args()
    return (f"{_PARAMETERIZED_PLURAL[call.name]}({args[0]}, "
            f"array({call.inner.strip()}))")


@_calls("quantileExactWeighted", "quantileTimingWeighted")
def _quantile_weighted(call: _Call) -> str | None:
    if not call.has_params:
        return None
    args = call.args()
    if len(args) != 2:
        raise UnsupportedChSql(f"{call.name}(q)(x, w) expects 2 args")
    # Spark percentile's third argument IS the frequency weight.
    # TimingWeighted maps to the EXACT weighted percentile —
    # the same honest-analogue treatment as quantileTiming
    # (CH's timing sketch is itself approximate).
    return f"percentile({args[0]}, {call.inner.strip()}, {args[1]})"


@_calls(*_PARAMETERIZED)
def _quantile(call: _Call) -> str:
    spark = _PARAMETERIZED[call.name]
    if not call.has_params:  # CH `quantile(x)` defaults to median
        return f"{spark}({call.inner}, 0.5)"
    args = call.args()
    # quantileDeterministic(x, seed): the seed only stabilizes
    # CH's sampling — exact/approx percentile ignores it.
    cols = args[0] if call.name == "quantileDeterministic" else ", ".join(args)
    return f"{spark}({cols}, {call.inner.strip()})"


@_calls(*_IF_AGGS)
def _if_agg(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}() expects 2 arguments")
    case = f"CASE WHEN {_ch_cond(parts[1])} THEN {parts[0]} END"
    # any_value respects NULLs by default — the CASE injects
    # one per non-matching row, so pass ignoreNulls=true
    if _IF_AGGS[call.name] == "any_value":
        body = f"any_value({case}, true)"
    else:
        body = f"{_IF_AGGS[call.name]}({case})"
    # CH's sum family returns 0 (not NULL) when no row matches
    if call.name == "sumIf":
        body = f"coalesce({body}, 0)"
    # CH's quantile family returns NaN on an empty sequence
    elif call.name in ("medianIf", "medianExactIf"):
        body = f"coalesce({body}, CAST('NaN' AS DOUBLE))"
    return body


@_calls("uniqExact")
def _uniq_exact(call: _Call) -> str:
    return f"count(DISTINCT {call.inner})"


@_calls("kurtPop")
def _kurt_pop(call: _Call) -> str:
    # Spark kurtosis is EXCESS kurtosis; CH kurtPop is Pearson
    return f"(kurtosis({call.inner}) + 3)"


@_calls("toUnixTimestamp64Milli", "toUnixTimestamp64Micro",
        "toUnixTimestamp64Nano", "fromUnixTimestamp64Milli",
        "fromUnixTimestamp64Micro")
def _unix_timestamp64(call: _Call) -> str:
    # clean raise for the optional tz argument (same session-
    # timezone discipline as now64; the bare shim would die
    # with an opaque arity error — review r9f)
    if len(call.parts) > 1:
        raise UnsupportedChSql(
            f"{call.name} timezone argument not supported — the "
            "session timezone governs rendering")
    return f"{call.name}({call.inner})"


@_calls("now64")
def _now64(call: _Call) -> str:
    # now64([precision[, tz]]): Spark timestamps are fixed
    # micros; a tz argument would violate the session-zone
    # discipline
    if len([p for p in call.parts if p.strip()]) > 1:
        raise UnsupportedChSql(
            "now64 timezone argument not supported — the "
            "session timezone governs rendering")
    return "current_timestamp()"


@_calls("extractAll")
def _extract_all(call: _Call) -> str:
    # array of matches; like extract(), the first capture
    # group when the pattern has one, else the whole match
    parts = call.parts
    if len(parts) != 2 or not parts[1].strip().startswith("'"):
        raise UnsupportedChSql(
            "extractAll(haystack, 'regexp') needs a literal pattern")
    pat = parts[1].strip()
    group = 1 if _regex_has_capture_group(pat[1:-1]) else 0
    return f"regexp_extract_all({parts[0]}, {pat}, {group})"


@_calls("splitByRegexp")
def _split_by_regexp(call: _Call) -> str:
    # CH argument order is (regexp, haystack); Spark split()
    # already treats the separator as a regex
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("splitByRegexp(re, s) expects 2 args")
    return f"split({parts[1]}, {parts[0]})"


@_calls("like", "notLike", "ilike", "notILike")
def _like(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(haystack, pattern)")
    op = "ILIKE" if call.name in ("ilike", "notILike") else "LIKE"
    neg = "NOT " if call.name.startswith("not") else ""
    return f"(({parts[0]}) {neg}{op} ({parts[1]}))"


@_calls("sumDistinct", "countDistinct", "avgDistinct")
def _distinct_agg(call: _Call) -> str:
    # sum_distinct/count_distinct are DataFrame-API-only names
    return f"{call.name[:-len('Distinct')]}(DISTINCT {call.inner})"


@_calls("uniqExactIf")
def _uniq_exact_if(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("uniqExactIf(x, cond) expects 2 args")
    return (f"count(DISTINCT CASE WHEN {_ch_cond(parts[1])} "
            f"THEN {parts[0]} END)")


@_calls("countIf")
def _count_if(call: _Call) -> str:
    # 1-arg = predicate count; CH's 2-arg form counts non-NULL x
    # where cond holds
    parts = call.parts
    if len(parts) == 2:
        return f"count(CASE WHEN {_ch_cond(parts[1])} THEN {parts[0]} END)"
    return f"count_if({_ch_cond(call.inner)})"


@_calls("avgWeighted")
def _avg_weighted(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("avgWeighted(x, w) expects 2 args")
    x, w = parts
    # CH skips the whole ROW when x is NULL — the denominator
    # must not count that row's weight (review r9e); zero or
    # empty total weight returns NaN like CH (also guards the
    # ANSI divide-by-zero)
    wsum = f"sum(CASE WHEN ({x}) IS NOT NULL THEN ({w}) END)"
    return (f"(CASE WHEN coalesce({wsum}, 0) = 0 "
            f"THEN CAST('NaN' AS DOUBLE) "
            f"ELSE sum(CAST(({x}) AS DOUBLE) * ({w})) / {wsum} END)")


@_calls("hasAll", "hasAny")
def _has_all_any(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(arr, subset) expects 2 args")
    # CH treats NULL elements as normal values (hasAll([1,
    # NULL], [NULL]) = 1) — <=> keeps that; array_contains /
    # arrays_overlap would return NULL instead (review r9e)
    outer = "forall" if call.name == "hasAll" else "exists"
    return (f"{outer}({parts[1]}, __x -> "
            f"exists({parts[0]}, __y -> __y <=> __x))")


@_calls("countEqual")
def _count_equal(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql("countEqual(arr, x) expects 2 args")
    return f"size(filter({parts[0]}, __x -> __x <=> ({parts[1]})))"


@_calls(*_DIGESTS, ci=True)
def _digest(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 1:
        raise UnsupportedChSql(f"{call.name}(x) expects 1 argument")
    return _DIGESTS[call.name.lower()].format(x=parts[0])


#: a uniform UInt32 draw
_RAND32 = "CAST(floor(rand() * 4294967296) AS BIGINT)"


@_calls("rand", "rand32", ci=True)
def _rand(call: _Call) -> str:
    # CH rand() (alias rand32; case-insensitive, MySQL
    # compat) is a uniform UInt32 draw, NOT Spark's [0, 1)
    # double — `rand() % 100 < 5` would silently select every
    # row under the bare mapping.  An optional argument is a
    # CSE-blocking tag in CH: accepted and ignored.
    return _RAND32


@_calls("rand64")
def _rand64(call: _Call) -> str:
    # two 32-bit draws packed into one 64-bit pattern,
    # interpreted SIGNED (the same 64-bit-signed deviation as
    # the bit-op family; CH's type is UInt64)
    return f"(shiftleft({_RAND32}, 32) | {_RAND32})"


@_calls("randCanonical")
def _rand_canonical(call: _Call) -> str:
    return "rand()"  # both engines: uniform [0, 1) double


@_calls("arrayMin", "arrayMax")
def _array_min_max(call: _Call) -> str:
    base = "array_min" if call.name == "arrayMin" else "array_max"
    parts = call.parts
    if len(parts) == 2 and _is_lambda_arg(parts[0]):
        return f"{base}(transform({parts[1]}, {parts[0]}))"
    return call.plain(base)


@_calls(*_ARR_SINGLE)
def _array_single(call: _Call) -> str:
    name, parts = call.name, call.parts
    # CH's optional (lambda, array) form (arraySum/Avg/Product/
    # CumSum only) reduces to the single-array form over
    # transform(array, lambda)
    takes_lambda = name in ("arraySum", "arrayAvg", "arrayProduct",
                            "arrayCumSum")
    if takes_lambda and len(parts) == 2 and _is_lambda_arg(parts[0]):
        arr = f"transform({parts[1]}, {parts[0]})"
    elif len(parts) == 1:
        arr = parts[0]
    else:
        raise UnsupportedChSql(
            f"{name} expects one array"
            + (" (or a lambda + one array)" if takes_lambda else ""))
    tpl = _ARR_SINGLE[name]
    if tpl.count("{a}") > 1:
        # multi-splice template: bind the array once so a
        # nondeterministic argument isn't re-evaluated per
        # reference (ADVICE r9)
        return _bind_once(arr, lambda v: f"({tpl.format(a=v)})")
    return f"({tpl.format(a=arr)})"


@_calls(*_ARR_LAMBDA)
def _array_lambda(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2 or not _is_lambda_arg(parts[0]):
        raise UnsupportedChSql(f"{call.name}(lambda, arr) expects 2 args")
    return _ARR_LAMBDA[call.name].format(a=parts[1], L=parts[0])


@_calls("arraySort", "arrayReverseSort")
def _array_sort(call: _Call) -> str | None:
    parts = call.parts
    desc = call.name == "arrayReverseSort"
    if len(parts) == 2 and _is_lambda_arg(parts[0]):
        tpl = _ARR_SORT_LAMBDA_DESC if desc else _ARR_SORT_LAMBDA
        # the decorate-sort-undecorate template splices the
        # array twice (key transform + value side of zip_with):
        # bind it once so nondeterministic arguments can't
        # mispair keys with values (ADVICE r9)
        lam = parts[0]
        return _bind_once(parts[1], lambda v: tpl.format(a=v, L=lam))
    if len(parts) == 1 and desc:
        return _ARR_SORT_DESC.format(a=parts[0])
    # 1-arg arraySort is Spark's array_sort (already
    # asc-with-NULLs-last, like CH)
    return None if desc else call.plain("array_sort")


@_calls("arrayPushBack", "arrayPushFront")
def _array_push(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2:
        raise UnsupportedChSql(f"{call.name}(arr, x) expects 2 args")
    a, x = parts
    return (f"concat({a}, array({x}))" if call.name == "arrayPushBack"
            else f"concat(array({x}), {a})")


@_calls("arrayReduce")
def _array_reduce(call: _Call) -> str:
    parts = call.parts
    if (len(parts) != 2 or not parts[0].strip().startswith("'")
            or not parts[0].strip().endswith("'")):
        raise UnsupportedChSql(
            "arrayReduce('agg', arr) expects a literal aggregate "
            "name and one array")
    agg = parts[0].strip()[1:-1]
    if agg not in _ARR_REDUCE:
        raise UnsupportedChSql(
            f"arrayReduce aggregate {agg!r} not supported — "
            f"supported: {', '.join(sorted(_ARR_REDUCE))}")
    return f"({_ARR_REDUCE[agg].format(a=parts[1])})"


@_calls("transform")
def _transform(call: _Call) -> str | None:
    # CH's dictionary transform(x, from, to[, default]); the
    # 2-arg spelling is Spark's own lambda HOF and passes
    # through untouched
    parts = call.parts
    if len(parts) not in (3, 4) or _is_lambda_arg(parts[1]):
        return None
    x, frm, to = parts[0], parts[1], parts[2]
    # element_at's index is INT; position 0 (no match) must
    # become NULL — try_element_at raises on a literal 0
    idx = f"CAST(nullif(array_position({frm}, {x}), 0) AS INT)"
    dflt = parts[3] if len(parts) == 4 else x
    return f"coalesce(try_element_at({to}, {idx}), {dflt})"


_DECIMAL_PRECISION = {"toDecimal32": 9, "toDecimal64": 18,
                      "toDecimal128": 38}


@_calls(*_DECIMAL_PRECISION)
def _to_decimal(call: _Call) -> str:
    parts = call.parts
    if len(parts) != 2 or not parts[1].strip().isdigit():
        raise UnsupportedChSql(
            f"{call.name}(x, scale) expects a literal integer scale")
    return (f"CAST(({parts[0]}) AS DECIMAL("
            f"{_DECIMAL_PRECISION[call.name]}, {parts[1].strip()}))")


@_calls("age")
def _age(call: _Call) -> str:
    return _age_expr(call.parts)


@_calls("cast", ci=True)
@_calls("accurateCast")
def _cast(call: _Call) -> str | None:
    accurate = call.name == "accurateCast"
    split = _split_top_as(call.inner)
    if split is not None:
        # None for a plain ANSI type: CAST is kept untouched
        return _ch_cast_expr(split[0], split[1], accurate)
    parts = call.parts
    p1 = parts[1].strip() if len(parts) == 2 else ""
    if p1.startswith("'") and p1.endswith("'"):
        # CH's function-form CAST(x, 'Type'); an ANSI spelling in CH
        # syntax becomes a plain CAST
        return (_ch_cast_expr(parts[0], p1[1:-1], accurate)
                or f"CAST(({parts[0]}) AS {p1[1:-1]})")
    if accurate:
        raise UnsupportedChSql(
            "accurateCast(x, 'Type') expects a literal type")
    return None


@_calls("fromUnixTimestamp")
def _from_unix_timestamp(call: _Call) -> str:
    if len(call.parts) != 1:
        raise UnsupportedChSql(
            "fromUnixTimestamp(n, fmt) — spell "
            "formatDateTime(toDateTime(n), fmt)")
    return f"timestamp_seconds({call.inner})"


@_calls("makeDate")
def _make_date(call: _Call) -> str:
    parts = call.parts
    if len(parts) == 3:
        return f"make_date({call.inner})"
    if len(parts) == 2:  # CH's (year, day_of_year) form
        return f"date_add(make_date({parts[0]}, 1, 1), ({parts[1]}) - 1)"
    raise UnsupportedChSql(
        "makeDate expects (year, month, day) or (year, day_of_year)")


def substitute(sql: str, params: Mapping[str, object]) -> str:
    """Fill Grafana-style ``$var`` / ``${var}`` template variables.
    Strings are quoted via the :mod:`.sql` literal escaper; ints/floats
    render bare; sequences become quoted IN-lists."""
    def render(v: object) -> str:
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, (list, tuple, set)):
            return ", ".join(render(x) for x in sorted(map(str, v)))
        return _lit(str(v))

    def repl(m: "re.Match[str]") -> str:
        key = m.group(1) or m.group(2)
        if key not in params:
            raise KeyError(f"missing template variable ${key}")
        return render(params[key])

    return re.sub(r"\$\{(\w+)\}|\$(\w+)", repl, sql)


def _statement_ctes(
    sql: str,
) -> tuple[dict[str, str], int, dict[str, tuple[int, int]]]:
    """Map each name defined by a LEADING statement-level ``WITH``
    clause to a self-contained CH-SQL text that evaluates it, plus
    the offset where the clause ends (0 when there is none) so
    callers can scope rewrites to the main statement body, plus each
    entry's (start, end) span — name through closing paren — so a
    consumer that replaces the entry's only reference can excise it.  Scalar
    WITH entries (``WITH 2 AS x``) are carried verbatim into later
    entries' prefixes but define no relation; ``WITH RECURSIVE`` never
    matches the entry shape and yields ``({}, 0)``.  Entries may
    reference earlier entries: entry k's text is ``WITH e1, …, e(k-1)
    SELECT * FROM (body_k)`` so the chain resolves on re-entry."""
    sh = _mask_literals(sql)
    m = re.match(r"\s*WITH\b", sh, re.IGNORECASE)
    if not m:
        return {}, 0, {}
    depths = _depth_map(sh)
    out: dict[str, str] = {}
    spans: dict[str, tuple[int, int]] = {}
    prev: list[str] = []  # raw entry texts, in order
    i = m.end()
    base = depths[m.end() - 1]
    while True:
        em = re.match(r"\s*([A-Za-z_]\w*)\s+AS\s*\(", sh[i:])
        if em:
            # parenthesized CTE body: find its matching close paren
            open_at = i + em.end() - 1
            j = _find_partner(sh, open_at)
            if j < 0:
                return {}, 0, {}  # unbalanced; let the main pass raise
            name = em.group(1)
            body = sql[open_at + 1: j]
            out[name] = (
                f"WITH {', '.join(prev)} SELECT * FROM ({body})"
                if prev else body
            )
            spans[name] = (i + em.start(1), j + 1)
            prev.append(sql[i + em.start(1): j + 1])
            i = j + 1
        else:
            # scalar/expression entry: runs to the next same-depth
            # comma (or the clause ends at SELECT)
            start = i
            while i < len(sh):
                if sh[i] == "," and depths[i] == base:
                    break
                if (depths[i] == base
                        and re.match(r"(?i)SELECT\b", sh[i:])
                        and not (i > 0 and (sh[i - 1].isalnum()
                                            or sh[i - 1] in "_`"))):
                    return out, i, spans
                i += 1
            if i >= len(sh):
                return out, i, spans
            prev.append(sql[start:i].strip())
        # after an entry: a comma continues the clause, else it ends
        cm = re.match(r"\s*,", sh[i:])
        if not cm:
            return out, i, spans
        i += cm.end()


#: the "EXCEPT is a SET OPERATOR here" lookahead, shared by every
#: dual-use-EXCEPT site (r13 review: three hand-spelled variants
#: diverged — one accepted a bare '(' and broke `* EXCEPT (col)`
#: ASOF statements, two missed the double-parenthesized
#: `EXCEPT ((SELECT …))` operand).  A set-op EXCEPT is followed by
#: ALL/DISTINCT/SELECT/WITH or an arbitrarily-parenthesized
#: SELECT/WITH; anything else (a column list) is the star-modifier.
_SETOP_EXCEPT_RX = (r"(?:ALL\b|DISTINCT\b|SELECT\b|WITH\b|"
                    r"(?:\(\s*)+(?:SELECT|WITH)\b)")


def _asof_right_sans_distinct(body: str) -> str | None:
    """If an ASOF-join RIGHT-side subquery body is a PURE per-row
    dedup — ``SELECT <bare cols> FROM <table> [WHERE …] GROUP BY
    <exactly those cols>`` with no aggregates, HAVING, DISTINCT,
    ORDER/LIMIT, joins, subqueries or WITH — return the body with the
    GROUP BY dropped, else None.

    Why this is sound (r16, guide §2.4 "remove shuffles outright"):
    the bridge executes ASOF joins as union + one keyed window whose
    ``last()`` picks the latest right payload at-or-before (or the
    mirror) each left row.  Duplicates the GROUP BY would have
    collapsed are full-row IDENTICAL tuples, and ``last()`` over
    identical neighbours returns the same value whichever survives,
    so the join output is bit-equal while the right side sheds a
    whole Exchange + partial/final aggregate pair (the dedup's own
    hash shuffle on (keys…, ts)).  Left sides NEVER take this path —
    left multiplicities feed count()/sum() downstream.

    Conservative on purpose: any parenthesis anywhere in the body
    (function calls, subqueries, tuple IN) declines, as does any
    qualified or aliased select item; the dedup then runs as written.
    """
    m = re.match(
        r"(?is)^\s*SELECT\s+(?P<cols>[A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)\s+"
        r"FROM\s+(?P<tbl>[A-Za-z_]\w*)\s*"
        r"(?P<where>WHERE\s+.*?)?\s*"
        r"GROUP\s+BY\s+(?P<grp>[A-Za-z_0-9]\w*(?:\s*,\s*[A-Za-z_0-9]\w*)*)\s*$",
        body,
    )
    if m is None or "(" in body or ")" in body:
        return None
    if m.group("where") and re.search(
            r"(?i)\b(HAVING|DISTINCT|ORDER|LIMIT|JOIN|UNION|WITH|"
            r"SETTINGS|SELECT)\b", m.group("where")):
        return None
    cols = [c.strip() for c in m.group("cols").split(",")]
    grp = [g.strip() for g in m.group("grp").split(",")]
    # positional GROUP BY 1, 2 … refers to select items in order
    grp = [cols[int(g) - 1] if g.isdigit() and 0 < int(g) <= len(cols)
           else g for g in grp]
    if sorted(set(c.lower() for c in cols)) != sorted(
            set(g.lower() for g in grp)):
        return None
    where = (" " + m.group("where")) if m.group("where") else ""
    return f"SELECT {', '.join(cols)} FROM {m.group('tbl')}{where}"


def _asof_block_span(sh: str, pos: int) -> tuple[int, int]:
    """Span of the QUERY BLOCK containing ``pos`` on the masked
    shadow: the innermost balanced paren group enclosing ``pos``
    (whole string when none), further bounded by same-depth set
    operators.  Side aliases are block-scoped in SQL, so the ASOF
    bridge's qualifier strip must not reach a SIBLING branch — a
    second ASOF leg sharing a CTE side keeps its own qualified ON
    terms for the next bridge pass (r13 fuzz, asof_shared_cte
    kind)."""
    depths = _depth_map(sh)
    d0 = depths[pos]
    a, b = 0, len(sh)
    if d0 > 0:  # the enclosing group: the nearest opener to the left
        o = next(o for o in range(pos - 1, -1, -1) if depths[o] < d0)
        close = _find_partner(sh, o)
        if close >= 0:
            a, b = o + 1, close
    left, right = a, b
    for m in re.finditer(
            r"(?i)\b(?:UNION|INTERSECT)\b(?:\s+(?:ALL|DISTINCT))?"
            r"(?=\s*(?:SELECT|WITH|\())"
            rf"|\bEXCEPT\s+(?={_SETOP_EXCEPT_RX})",
            sh[a:b]):
        s_abs, e_abs = a + m.start(), a + m.end()
        if depths[s_abs] != d0:
            continue
        if e_abs <= pos:
            left = max(left, e_abs)
        elif s_abs > pos:
            right = min(right, s_abs)
    return left, right


#: session-conf marker caching the InlineCTE probe verdict (string
#: "buggy"/"clean"; conf survives exactly as long as the session —
#: no Python-side id-reuse hazard, same pattern as the shim marker)
_ICTE_MARKER = "spark.__tce_inline_cte_probe"
_PPTU_MARKER = "spark.__tce_pptu_probe"


def spark_pptu_bug(spark: SparkSession) -> bool:
    """Session-cached probe for the second pinned Spark 4.1.2 bug
    (r13 fuzz seed 12/58; VERDICT r13 item 4): a CORRELATED scalar
    subquery projected directly over a UNION child crashes the
    optimizer's PushProjectionThroughUnion rule (``key not found:
    <inner attribute>`` — the rule's attribute rewrite descends into
    the subquery plan's own scope).  On a buggy build the probe
    statement CRASHES (that IS the bug's presentation); on a fixed
    build it returns the hand-derived rows.  Verdict caches in the
    session conf; consumers (the dialect fuzzer's correlated kinds)
    widen their source envelope to union-bearing shapes the moment a
    Spark upgrade fixes the rule — no code change.

    Expected rows of the probe statement, derived by hand (pinned in
    ``tests/test_r14_pptu_probe.py`` vs DuckDB): the union child
    yields g∈{1,2}; the correlated max(u.x) matches only u.k=1=g, so
    (1, 2) and (2, NULL→0), plus the appended literal (9, 9)."""
    try:
        cached = spark.conf.get(_PPTU_MARKER)
        if cached in ("buggy", "clean"):
            return cached == "buggy"
    except Exception:
        pass
    probe = (
        "SELECT g, coalesce(v, 0) AS v FROM (SELECT g, v FROM"
        " (SELECT (SELECT max(u.x) FROM (SELECT 1 AS k, 2 AS x) u"
        " WHERE u.k = t1.g) AS v, g"
        " FROM (SELECT 1 AS g UNION ALL SELECT 2 AS g) AS t1) AS w)"
        " UNION ALL SELECT 9 AS g, 9 AS v")
    want = [(1, 2), (2, 0), (9, 9)]

    def _attempt() -> bool:
        """True iff the pinned correct result came back."""
        got = sorted(tuple(r) for r in spark.sql(probe).collect())
        return got == want

    try:
        buggy = not _attempt()
    except Exception:
        # the crash is the expected presentation on <= 4.1.2 — but
        # retry once so a transient session hiccup on a FIXED build
        # doesn't cache 'buggy' for the whole session (same contract
        # as the InlineCTE probe, advice r13)
        try:
            buggy = not _attempt()
        except Exception:
            buggy = True
    try:
        spark.conf.set(_PPTU_MARKER, "buggy" if buggy else "clean")
    except Exception:
        pass
    return buggy


def _spark_inline_cte_bug(spark: SparkSession) -> bool:
    """Session-cached probe for the Spark InlineCTE landmine (fuzz
    seed 880001/72; SPARK-level bug present through 4.1.2): a temp
    view whose ANALYZED plan embeds ``WithCTE`` (a def-bearing side),
    composed into a statement carrying its OWN (unreferenced) defs
    plus a sibling branch's CTE, makes InlineCTE lose a def —
    ``key not found: N`` in one session id state, a SILENTLY WRONG
    row count in another.

    The probe runs that exact composition on literal rows THREE times
    (the failure mode rotates with the global CTE id counter: on the
    broken 4.1.2 build, run 1 returns the wrong count and runs 2+
    crash — a single run could catch the build on a lucky state) and
    demands the exact pinned result each time.  Verdict caches in the
    session conf.  When the build is clean, the ASOF bridge's
    def-bearing sides keep full lineage (no localCheckpoint
    materialization) — a future Spark upgrade restores Catalyst
    fusion with no code change (VERDICT r12 item 4).

    Expected result of the probe statement, derived by hand (pinned
    in ``tests/test_r13_inline_cte_probe.py`` vs DuckDB): the left
    branch's distinct (g, v_out) pairs are g=0:{1,4,7,10},
    g=1:{3,6,9,12}, g=2:{5,8,11,14}; the sibling c3 rows are
    (0,0),(1,1),(2,2),(3,3),(0,4); the intersection is {(0, 4)}, so
    ``(sum(v*g), count) = (0, 1)``."""
    import uuid

    try:
        cached = spark.conf.get(_ICTE_MARKER)
        if cached in ("buggy", "clean"):
            return cached == "buggy"
    except Exception:
        pass

    vname = f"__ch_icte_probe_{uuid.uuid4().hex[:12]}"
    probe = (
        "SELECT CAST(sum(v * g) AS BIGINT) AS s, count(*) AS c FROM"
        " (SELECT g, v FROM (WITH al1 AS (SELECT g, coalesce(v, 0)"
        " AS v FROM (SELECT id % 3 AS g, id AS v FROM range(6))),"
        " ar2 AS (SELECT g, coalesce(v, 0) + 1 AS rv"
        " FROM (SELECT id % 3 AS g, id AS v FROM range(9)))"
        f" SELECT g, v + coalesce(rv, 0) AS v FROM {vname})"
        " INTERSECT DISTINCT SELECT g, v FROM (WITH c3 AS (SELECT"
        " id % 4 AS g, CASE WHEN id % 7 = 6"
        " THEN NULL ELSE id END AS v FROM range(5))"
        " SELECT g, v FROM c3))"
    )
    def _attempt() -> bool:
        """True iff the pinned result came back on all three runs."""
        ldf = spark.sql(
            "WITH al1 AS (SELECT g, coalesce(v, 0) AS v FROM"
            " (SELECT id % 3 AS g, id AS v FROM range(6)))"
            " SELECT g, v FROM al1")
        rdf = spark.sql(
            "WITH ar2 AS (SELECT g, coalesce(v, 0) + 1 AS rv FROM"
            " (SELECT id % 3 AS g, id AS v FROM range(9)))"
            " SELECT g, rv FROM ar2")
        ldf.join(rdf, "g", "left").createOrReplaceTempView(vname)
        for _ in range(3):
            if [tuple(r) for r in spark.sql(probe).collect()] != [(0, 1)]:
                return False
        return True

    try:
        try:
            buggy = not _attempt()
        except Exception:
            # a crash here is the bug's OTHER presentation (`key not
            # found` on runs 2+ of a broken build) — but it could also
            # be a transient session hiccup (executor loss, temp-view
            # race), and caching 'buggy' on a clean build silently
            # forfeits the lineage path for the whole session.  Retry
            # once; only a REPEATED crash caches 'buggy', and loudly
            # (advice r13).
            try:
                buggy = not _attempt()
            except Exception as e:
                import warnings

                warnings.warn(
                    "InlineCTE probe crashed twice"
                    f" ({type(e).__name__}: {e}); caching the 'buggy'"
                    " verdict — expected on Spark <= 4.1.2 (the crash"
                    " IS the bug's presentation); if this build is"
                    " known-clean the crash was environmental and ASOF"
                    " def-bearing sides lose Catalyst lineage for this"
                    " session only",
                    stacklevel=2,
                )
                buggy = True
    finally:
        try:
            spark.catalog.dropTempView(vname)
        except Exception:
            pass
    try:
        spark.conf.set(_ICTE_MARKER, "buggy" if buggy else "clean")
    except Exception:
        pass
    return buggy


class _AsofLink(NamedTuple):
    """One parsed ``ASOF [LEFT|INNER] JOIN side [alias] ON|USING …``."""
    left_kw: bool  # ASOF LEFT JOIN keeps unmatched left rows
    src: str  # bare name, or the parenthesized subquery WITH parens
    names: set  # qualifiers the side answers to
    keys: list  # (left column, right column) equality pairs
    lts: str
    rts: str  # the right timestamp as written
    direction: str
    strict: bool
    using: bool
    end: int  # offset just past the ON condition / USING list


def _bridge_asof_join(
    spark: SparkSession, sql: str, table_map: Mapping[str, str] | None
) -> tuple[str, str | None]:
    """Rewrite CH's ``FROM t1 [a] ASOF [LEFT] JOIN t2 [b] ON equi…
    AND l.ts >= r.ts`` through :func:`operators.asof.asof_join_multi`:
    the joined result registers as a temp view and the statement's FROM
    clause (plus the sides' alias qualifiers) rewrite against it.
    Returns ``(rewritten_sql, view_name_or_None)`` — the caller loops
    until no ASOF JOIN is left, and drops the views once the statement
    is analyzed (view names are uuid-unique per call, so concurrent
    ``run_ch_sql`` callers never collide).

    One parser: the FROM side and EVERY chained link behind it (CH
    chains left-associatively) are parsed once, then k links fold into
    ONE ``asof_join_multi`` call — one keyed window, one shuffle:

    - k = the whole chain when it is uniform: every link ``ON``, the
      same left key columns, the same LEFT timestamp, pairwise-disjoint
      qualifier names and no CTE-named side (r15; a differing
      comparator per link adds only a Sort, never a shuffle);
    - k = 1 otherwise, and when the k-link build fails on a shape
      error (payload collision, analysis error).  The following links
      then see this pass's view as their left side: their qualifiers
      rewrite to ``<view>.<col>`` so the next pass parses them (r13).

    Supported subset (raise-don't-mistranslate elsewhere): ASOF JOINs
    of named tables/views/CTEs/subqueries — parallel branches AND
    chains — each link a conjunctive ON with ≥1 equality and exactly
    one inequality (``>=``, ``>``, ``<=``, ``<``, either side first)
    over qualified columns, or ``USING (k…, ts)``; no payload column
    collisions between the sides.  CH semantics preserved: bare ASOF
    JOIN is INNER (unmatched left rows drop — gated on the matched
    right timestamp), ASOF LEFT JOIN keeps them with NULLs; a
    qualified reference to the RIGHT side's timestamp outside the ON
    clause (``q.ts`` — ClickHouse returns the MATCHED right-row
    timestamp there, not the left one) resolves to the operator's
    matched-timestamp output.  Plan shape is the operator's: union +
    one keyed window, single shuffle, no nested-loop join."""
    import uuid

    from pyspark.sql import functions as F

    from ..operators.asof import asof_join_multi

    sh = _mask_literals(sql)
    asof_at = re.compile(r"(?is)\s*ASOF\s+(LEFT\s+|INNER\s+)?JOIN\b")
    am = re.search(r"(?i)\bASOF\s+(?:LEFT\s+|INNER\s+)?JOIN\b", sh)
    if am is None:
        return sql, None
    depths0 = _depth_map(sh)

    def _parse_side(pos: int):
        """``name | (subquery)`` followed by an optional ``[AS] alias``
        starting at ``pos``; returns (src, alias, end) or None.  src is
        the bare identifier or the parenthesized text WITH parens."""
        i = pos + re.match(r"\s*", sh[pos:]).end()
        if i < len(sh) and sh[i] == "(":
            j = i + 1
            while j < len(sh) and depths0[j] > depths0[i]:
                j += 1
            if j >= len(sh):
                return None
            src, i2 = sql[i: j + 1], j + 1
        else:
            nm = re.match(r"[A-Za-z_]\w*", sh[i:])
            if not nm:
                return None
            src, i2 = nm.group(0), i + nm.end()
        al = re.match(
            r"(?is)\s+(?:AS\s+)?"
            r"(?!ASOF\b|ON\b|USING\b|LEFT\b|INNER\b|JOIN\b)"
            r"([A-Za-z_]\w*)", sh[i2:])
        alias = None
        if al:
            alias, i2 = al.group(1), i2 + al.end()
        return src, alias, i2

    def _link_head(pos: int):
        """``ASOF … JOIN side [alias] ON|USING`` at ``pos``:
        (left_kw, src, alias, cond_start, keyword), or None."""
        jm = asof_at.match(sh, pos)
        side = _parse_side(jm.end()) if jm else None
        if side is None:
            return None
        src, alias, p3 = side
        om = re.match(r"(?i)\s*(ON|USING)\b", sh[p3:])
        if om is None:
            return None
        return ((jm.group(1) or "").strip().upper() == "LEFT", src, alias,
                p3 + om.end(), om.group(1).upper())

    # the ON condition ends at the block's next clause, at a FOLLOWING
    # ASOF JOIN (the next chained link) or at the enclosing paren
    stop_rx = re.compile(
        r"(?is)\b(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|SETTINGS|"
        r"UNION|INTERSECT|EXCEPT|WINDOW)\b"
        r"|\bASOF\s+(?:LEFT\s+|INNER\s+)?JOIN\b|\)")
    part_re = re.compile(
        r"^\s*(\w+)\.(\w+)\s*(>=|<=|=|>|<)\s*(\w+)\.(\w+)\s*$")

    def _link(head, left_names: set) -> _AsofLink:
        """Parse one link's ON condition or USING list; raises
        UnsupportedChSql on a form outside the subset."""
        left_kw, src, alias, cond_start, kw = head
        stop = stop_rx.search(sh, cond_start)
        cond_end = stop.start() if stop else len(sh)
        # a parenthesized side contributes only its alias as a qualifier
        right_names = ({alias} if src.startswith("(")
                       else {src, alias}) - {None}
        keys: list[tuple[str, str]] = []
        lts = rts = None
        direction, strict = "backward", False
        if kw == "USING":
            # CH: USING (k1, …, kn, asof_col) — the LAST column is the
            # inequality (comparator fixed at >=, CH's only USING form);
            # both sides must carry the same names, so keys/ts mirror
            i = cond_start + re.match(r"\s*", sh[cond_start:]).end()
            if i < len(sh) and sh[i] == "(":
                j = i + 1
                while j < len(sh) and depths0[j] > depths0[i]:
                    j += 1
                ulist, cond_end = sql[i + 1: j], j + 1
            else:
                ulist = sql[i:cond_end]
            cols = [c.strip().strip("`") for c in ulist.split(",")]
            if len(cols) < 2 or not all(
                    re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols):
                raise UnsupportedChSql(
                    "ASOF JOIN USING needs plain columns (k…, ts) — the "
                    "last is the >= inequality")
            keys = [(c, c) for c in cols[:-1]]
            lts = rts = cols[-1]
        elif not left_names or not right_names:
            raise UnsupportedChSql(
                "ASOF JOIN with subquery sides needs aliases to qualify "
                "the ON columns — FROM (…) a ASOF JOIN (…) b ON a.k = b.k "
                "AND a.ts >= b.ts (or spell USING (k…, ts))")
        for part in ([] if kw == "USING" else
                     re.split(r"(?i)\bAND\b", sql[cond_start:cond_end])):
            pm = part_re.match(part)
            if not pm:
                raise UnsupportedChSql(
                    f"unsupported ASOF ON term {part.strip()!r} (qualified "
                    "`x.col OP y.col` conjunction only)"
                )
            q1, c1, op, q2, c2 = pm.groups()
            if op == "=":
                if q1 in left_names and q2 in right_names:
                    keys.append((c1, c2))
                elif q1 in right_names and q2 in left_names:
                    keys.append((c2, c1))
                else:
                    raise UnsupportedChSql(
                        f"ASOF ON equality {part.strip()!r} "
                        "must relate the two join sides")
            else:
                if lts is not None:
                    raise UnsupportedChSql(
                        "ASOF JOIN needs exactly one inequality")
                # normalize to left-side-first: r.ts OP l.ts mirrors to
                # l.ts OP' r.ts.  CH's four comparators (r11e): >= / >
                # pick the closest right row at-or-before / strictly
                # before; <= / < at-or-after / strictly after.
                mirror = {">=": "<=", "<=": ">=", ">": "<", "<": ">"}
                if q1 in left_names and q2 in right_names:
                    lts, rts = c1, c2
                elif q1 in right_names and q2 in left_names:
                    lts, rts, op = c2, c1, mirror[op]
                else:
                    raise UnsupportedChSql(
                        f"ASOF inequality {part.strip()!r} must relate "
                        "the two join sides")
                direction = "backward" if op in (">=", ">") else "forward"
                strict = op in (">", "<")
        if not keys or lts is None:
            raise UnsupportedChSql(
                "ASOF JOIN needs at least one equality and exactly one "
                "inequality in ON"
            )
        return _AsofLink(left_kw, src, right_names, keys, lts, rts,
                         direction, strict, kw == "USING", cond_end)

    head = None
    for fm in re.finditer(r"(?i)\bFROM\b", sh):
        if fm.start() > am.start():
            break
        side = _parse_side(fm.end())
        if side is None:
            continue
        t1, a1, p = side
        head = _link_head(p)
        if head is not None:
            from_start = fm.start()
            break
    if head is None:
        raise UnsupportedChSql(
            "ASOF JOIN form not recognized — supported: FROM t1|(subq) "
            "[a] ASOF [LEFT|INNER] JOIN t2|(subq) [b] ON equi… AND "
            "l.ts >= r.ts, or … USING (k…, ts)"
        )
    left_names = ({a1} if t1.startswith("(") else {t1, a1}) - {None}
    links = [_link(head, left_names)]

    # a side named by an ENCLOSING CTE resolves through the dialect
    # recursively (CH scoping: the CTE shadows any table of the same
    # name).  Candidate clauses: the statement-leading WITH plus any
    # parenthesized select block's leading WITH whose extent encloses
    # the ASOF FROM; an inner clause's names shadow an outer's (an
    # entry body referencing an OUTER clause's name stays out of the
    # subset — the recursive call fails loudly with TABLE_NOT_FOUND).
    # Plain names resolve from the session catalog.
    ctes: dict[str, str] = {}
    cte_spans: dict[str, tuple[int, int]] = {}
    with_end = 0
    for wm in re.finditer(r"(?i)(?:\A|\()\s*WITH\b", sh):
        wtok = wm.end() - 4  # offset of the WITH token itself
        if wtok >= from_start:
            continue
        if wm.group(0)[0] == "(":
            # paren-prefixed: extent is the enclosing paren group
            j = wm.start() + 1
            while j < len(sh) and depths0[j] > depths0[wm.start()]:
                j += 1
            if not (wm.start() < from_start < j):
                continue
        inner, rel_end, rel_spans = _statement_ctes(sql[wtok:])
        if inner:
            ctes.update(inner)  # ascending starts → inner shadows
            cte_spans.update({n: (wtok + a, wtok + b)
                              for n, (a, b) in rel_spans.items()})
            # only a clause that ends BEFORE the ASOF FROM bounds the
            # rewrite region: an ENCLOSING clause's end lies past the
            # ASOF's own select body (its entry body contains it), and
            # taking that end would shield the very references the
            # strip must rewrite (fuzz seed 61803: ASOF inside a CTE)
            if wtok + rel_end <= from_start:
                with_end = max(with_end, wtok + rel_end)

    # k: the chained links behind the first, while the chain stays
    # uniform; any doubt about a later link leaves k = 1 and that link
    # to a later pass, which raises on it by name if it must
    seen = set(left_names)
    uniform = not links[0].using and links[0].names.isdisjoint(seen)
    seen |= links[0].names
    lkeys = sorted(lk for lk, _ in links[0].keys)
    while uniform and asof_at.match(sh, links[-1].end):
        head = _link_head(links[-1].end)
        try:
            ln = (_link(head, left_names)
                  if head is not None and head[4] == "ON" else None)
        except UnsupportedChSql:
            ln = None
        uniform = (ln is not None and ln.lts == links[0].lts
                   and sorted(lk for lk, _ in ln.keys) == lkeys
                   and ln.names.isdisjoint(seen))
        if uniform:
            links.append(ln)
            seen |= ln.names
    # CTE-named sides stay per link (the excision below owns them)
    if not uniform or any(not s.startswith("(") and s in ctes
                          for s in [t1] + [ln.src for ln in links]):
        links = links[:1]

    def _no_cte_defs(df: DataFrame) -> DataFrame:
        # Spark's InlineCTE can lose a def ("key not found: N" at
        # optimize time) when an analyzed view plan embedding WithCTE
        # is composed into a statement carrying its OWN defs — the
        # failure depends on session id state (fuzz seed 880001/72
        # fails in-batch, passes standalone).  Truncate such a side's
        # lineage to a LogicalRDD with a LAZY local checkpoint:
        # computation still runs at first action, and materializing
        # the side once mirrors what CH itself does with a join's
        # right table.  Plans without CTE defs keep full lineage (and
        # Catalyst fusion) — zero cost on the common paths.  On a
        # Spark build where the session probe shows InlineCTE handles
        # the composition correctly (r13, VERDICT r12 item 4), the
        # lineage path comes back for free.
        if ("CTERelationDef" in df._jdf.queryExecution().analyzed().toString()
                and _spark_inline_cte_bug(spark)):
            return df.localCheckpoint(eager=False)
        return df

    tmap = dict(table_map or {})

    def _side(spec: str) -> DataFrame:
        if spec.startswith("("):
            # parenthesized subquery side: translate its body through
            # the dialect (it may open with its own WITH clause)
            return _no_cte_defs(
                run_ch_sql(spark, spec[1:-1], table_map=table_map))
        if spec in ctes:
            return _no_cte_defs(
                run_ch_sql(spark, ctes[spec], table_map=table_map))
        return spark.table(tmap.get(spec, spec))

    def _right_side(spec: str) -> DataFrame:
        # pure-distinct right subqueries (and CTE bodies) feed the
        # keyed window with duplicates intact — identical rows, so
        # last() picks the same value — shedding the dedup's own
        # Exchange + aggregate pair (r16, guide §2.4)
        body = (spec[1:-1] if spec.startswith("(")
                else ctes.get(spec))
        if body is not None:
            slim = _asof_right_sans_distinct(body)
            if slim is not None:
                return _no_cte_defs(
                    run_ch_sql(spark, slim, table_map=table_map))
        return _side(spec)

    def _build(chain: list[_AsofLink]):
        ldf = _side(t1)
        rights, taken = [], set(ldf.columns)
        uid = uuid.uuid4().hex[:12]
        for i, ln in enumerate(chain):
            rdf = _right_side(ln.src)
            rts = ln.rts
            for lk, rk in ln.keys:
                if rk != lk:
                    if rts == rk:
                        rts = lk
                    rdf = rdf.withColumnRenamed(rk, lk)
            pay = [c for c in rdf.columns
                   if c not in [lk for lk, _ in ln.keys] + [rts]]
            # when the right-ts name is unique to its side (no left or
            # earlier-payload column, join key, key-driven rename or
            # other link's ts of that name), keep CH's OWN column name
            # on the matched-timestamp output: bare references (`SELECT
            # rv`) then resolve naturally and qualified ones reduce to
            # it via the qualifier strip — exactly CH's resolution of
            # the matched right row's timestamp.  Otherwise a PER-PASS-
            # UNIQUE synthetic name: in a chain, pass 2's left side is
            # pass 1's view (r13 review).
            natural = (rts == ln.rts and ln.rts not in taken
                       and all(ln.rts != lk for lk, _ in ln.keys)
                       and all(ln.rts != o.rts
                               for j, o in enumerate(chain) if j != i))
            out_col = (ln.rts if natural else f"__asof_rts_{uid}"
                       + (f"_{i}" if len(chain) > 1 else ""))
            taken |= set(pay) | {out_col}
            rights.append((rdf, rts, out_col, ln.direction, ln.strict))
        # one link keys in its ON order; a fold on the sorted keys, as
        # its links may list the shared keys in any order
        by = [lk for lk, _ in chain[0].keys]
        try:
            joined = asof_join_multi(
                ldf, rights, by=sorted(by) if len(chain) > 1 else by,
                left_ts=chain[0].lts)
        except ValueError as e:
            raise UnsupportedChSql(
                f"ASOF JOIN bridge: {e} — alias colliding columns away in "
                "a subquery, or call operators/asof.asof_join directly"
            ) from e
        return joined, uid, [r[2] for r in rights]

    try:
        joined, uid, out_cols = _build(links)
    except Exception as e:
        # a folded chain that fails on shape (payload collisions,
        # missing tables, nested unsupported constructs) retries link
        # by link, which raises its own better-worded errors on
        # genuinely unsupported input; anything else propagates
        if len(links) == 1 or not (
                isinstance(e, (ValueError, UnsupportedChSql))
                or type(e).__name__ == "AnalysisException"):
            raise
        links = links[:1]
        joined, uid, out_cols = _build(links)
    for ln, out_col in zip(links, out_cols):
        if not ln.left_kw:  # CH bare ASOF JOIN is INNER
            joined = joined.filter(F.col(out_col).isNotNull())
    name = f"__ch_asof_{uid}"
    new_sql = sql[: from_start] + f"FROM {name} " + sql[links[-1].end:]

    def _rewrite(text: str, rx: "re.Pattern[str]", repl) -> tuple[str, int]:
        """Replace ``rx`` matches with ``repl(after_chain)`` inside the
        bridged ASOF's own query block.  Side aliases are invisible
        outside it, and a SIBLING branch may hold another ASOF leg over
        the same CTE side whose qualifiers belong to the next pass
        (r13); CTE bodies in the leading WITH prefix keep their own
        scope (``with_end`` is 0 without a prefix).  ``after_chain``
        marks a match past a remaining chained ASOF JOIN of the block:
        the next pass's ON-term contract needs ``x.col OP y.col``
        there, so those references get qualified with the view."""
        sh_c = _mask_literals(text)
        fpos = text.find(f"FROM {name}")
        blk_a, blk_b = _asof_block_span(sh_c, fpos)
        depths_c = _depth_map(sh_c)
        chain_at = next(
            (blk_a + cm.start() for cm in re.finditer(
                r"(?is)\bASOF\s+(?:LEFT\s+|INNER\s+)?JOIN\b",
                sh_c[blk_a:blk_b])
             if blk_a + cm.start() > fpos
             and depths_c[blk_a + cm.start()] == depths_c[fpos]), blk_b)
        out, last, n = [], 0, 0
        for qm in rx.finditer(sh_c):
            if qm.start() < with_end or not blk_a <= qm.start() < blk_b:
                continue
            out.append(text[last: qm.start()])
            out.append(repl(qm.start() >= chain_at))
            last = qm.end()
            n += 1
        out.append(text[last:])
        return "".join(out), n

    # CH resolves `<right>.<rts>` in the statement body to the MATCHED
    # right-row timestamp (the left ts would be a silently wrong value
    # when the sides share the name) — point those references at the
    # operator's matched-timestamp output before the qualifiers strip
    for ln, out_col in zip(links, out_cols):
        if out_col == ln.rts:
            continue  # natural name: the strip below resolves it
        rts_esc = re.escape(ln.rts)
        rref = re.compile(
            r"\b(?:" + "|".join(map(re.escape, sorted(ln.names))) + r")\."
            # bare, backticked, or CH double-quoted spelling (the
            # bridge runs BEFORE the double-quote → backtick conversion)
            + rf"(?:{rts_esc}(?![\w`(])|`{rts_esc}`|\"{rts_esc}\")")
        new_sql, n_rref = _rewrite(
            new_sql, rref,
            lambda after, c=out_col: f"{name}.{c}" if after else c)
        if n_rref == 0:
            joined = joined.drop(out_col)
    joined.createOrReplaceTempView(name)
    # strip now-dangling side qualifiers (a.x / t1.x → x), literals safe
    quals = sorted(left_names.union(*(ln.names for ln in links)),
                   key=len, reverse=True)
    qre = re.compile(
        r"\b(?:" + "|".join(map(re.escape, quals)) + r")\.(?=[A-Za-z_`\"])"
    )
    new_sql, _ = _rewrite(
        new_sql, qre, lambda after: f"{name}." if after else "")
    # Excise CONSUMED CTE entries (the sides the view replaced) when
    # nothing else references them: leftover unreferenced defs are not
    # just clutter — composed with the view reference they trip a
    # Spark CTE-inlining bug (InlineCTE "key not found", with a
    # silent-wrong-result variant under other id states; fuzz seed
    # 880001/72).  Runs AFTER the qualifier strip so the replaced
    # region's `side.col` spellings no longer count as references.
    # Entry spans precede the ASOF FROM, so the body rewrites above
    # never move them.  A name still referenced anywhere outside the
    # candidate spans keeps its entry.
    cand = [(nm, *cte_spans[nm]) for nm in {t1, *(ln.src for ln in links)}
            if nm in ctes and nm in cte_spans]
    sh_n = _mask_literals(new_sql)
    cand_spans = [(a, b) for _, a, b in cand]
    cut: list[tuple[int, int]] = []
    for nm, s0, e0 in cand:
        word = re.compile(rf"(?<![\w.`]){re.escape(nm)}(?![\w`])")
        if not any(
                not any(a <= mm.start() < b for a, b in cand_spans)
                for mm in word.finditer(sh_n)):
            cut.append((s0, e0))
    for s0, e0 in sorted(set(cut), reverse=True):
        a, b = s0, e0
        k = a - 1
        while k >= 0 and new_sql[k] in " \t\n":
            k -= 1
        if k >= 0 and new_sql[k] == ",":
            a = k  # absorb the preceding separator
        else:
            k2 = b
            while k2 < len(new_sql) and new_sql[k2] in " \t\n":
                k2 += 1
            if k2 < len(new_sql) and new_sql[k2] == ",":
                b = k2 + 1  # first entry: absorb the following one
        new_sql = new_sql[:a] + new_sql[b:]
    if cut:
        # a clause whose entries were all excised leaves `WITH SELECT`
        # (never valid SQL otherwise) — drop the dangling keyword
        new_sql = _sub_masked(
            re.compile(r"(?i)\bWITH\s+(?=SELECT\b)"), "", new_sql)
    return new_sql, name


#: WITH FILL grid guard: an axis bigger than this is a FROM/TO/STEP
#: mistake (a chart axis holds thousands of points), and sequence()
#: would materialize it as ONE in-memory array on the bounds row —
#: raise by name instead (VERDICT r10 item 4).
_FILL_GRID_CAP = 10_000_000


def _extract_with_fill(sql: str) -> tuple[str, dict | None]:
    """Split a top-level ``ORDER BY col WITH FILL [FROM a] [TO b]
    [STEP s]`` off the query (VERDICT r9 item 4).

    The bridged form is the one Grafana time-series panels emit: a
    single bare ascending sort column, optionally followed by
    ``INTERPOLATE [(col [AS col], …)]`` in its LOCF form (r11c; the
    expression must be the column itself — CH's default — because an
    arbitrary ``AS expr`` iterates per inserted row, which a window
    cannot express), a trailing ``LIMIT n``, and ``SETTINGS`` /
    ``FORMAT`` execution tails (stripped like everywhere else —
    ADVICE r10).  Everything else raises naming the richer operator
    (:func:`functions.fill.fill_gaps`, the oracled ``an08``
    gap-fill): multi-column fill, STALENESS, DESC, expression sort
    keys, subquery placement, non-LOCF INTERPOLATE expressions.
    Returns (sql with the whole ORDER BY clause removed — ordering is
    reapplied DataFrame-side — and the spec).
    """
    sh = _mask_literals(sql)
    m = re.search(r"(?i)\bWITH\s+FILL\b", sh)
    if m is None:
        return sql, None
    dx = _depth_map(sh)
    if dx[m.start()] != 0:
        raise UnsupportedChSql(
            "WITH FILL inside a subquery is not bridged — apply it to "
            "the outermost ORDER BY")
    if re.search(r"(?i)\bWITH\s+FILL\b", sh[m.end():]):
        raise UnsupportedChSql(
            "multi-column WITH FILL is not bridged — fill a single "
            "sort column, or use functions/fill.fill_gaps with keys")
    ob = None
    for mo in re.finditer(r"(?i)\bORDER\s+BY\b", sh[: m.start()]):
        if dx[mo.start()] == 0:
            ob = mo
    if ob is None:
        raise UnsupportedChSql("WITH FILL without a same-level ORDER BY")
    key = sql[ob.end(): m.start()].strip()
    km = re.fullmatch(r"(?is)([A-Za-z_]\w*)(?:\s+ASC)?", key)
    if km is None:
        raise UnsupportedChSql(
            "WITH FILL is bridged for a single bare ascending sort "
            f"column only (got: ORDER BY {key} WITH FILL) — spell "
            "expression keys / DESC / multi-key sorts via "
            "functions/fill.fill_gaps")
    spec: dict = {"col": km.group(1), "from": None, "to": None,
                  "step": None, "interpolate": None, "limit": None}
    tail, tail_sh = sql[m.end():], sh[m.end():]
    kwre = re.compile(r"(?i)\s*\b(FROM|TO|STEP|STALENESS|INTERPOLATE|"
                      r"LIMIT|SETTINGS|FORMAT)\b")
    pos = 0
    while pos < len(tail_sh):
        mt = kwre.match(tail_sh, pos)
        if mt is None:
            if tail_sh[pos:].strip():
                raise UnsupportedChSql(
                    "unsupported tokens after WITH FILL: "
                    + tail[pos:].strip()[:40])
            break
        kw = mt.group(1).lower()
        if kw == "staleness":
            raise UnsupportedChSql("WITH FILL STALENESS is not bridged")
        if kw in ("settings", "format"):
            break  # execution tail — stripped like _strip_trailing_clauses
        if kw == "interpolate":
            if spec["interpolate"] is not None:
                raise UnsupportedChSql(
                    "WITH FILL: INTERPOLATE given twice")
            rest = tail_sh[mt.end():].lstrip()
            off = mt.end() + (len(tail_sh) - mt.end()
                              - len(rest))
            if rest.startswith("("):
                close = _find_close(tail_sh, off)
                items = []
                for it in _split_args(tail[off + 1: close]):
                    am = re.fullmatch(
                        r"(?is)([A-Za-z_]\w*)(?:\s+AS\s+(.*))?",
                        it.strip())
                    if am is None:
                        raise UnsupportedChSql(
                            f"INTERPOLATE item {it.strip()!r}: expected "
                            "`col` or `col AS expr`")
                    col, expr = am.group(1), (am.group(2) or "").strip()
                    if expr and expr.strip("`").lower() != col.lower():
                        raise UnsupportedChSql(
                            f"INTERPOLATE ({col} AS {expr}): only the "
                            "LOCF form (expr = the column itself, CH's "
                            "default) is bridged — an arbitrary "
                            "expression iterates per inserted row; use "
                            "functions/fill.fill_gaps")
                    items.append(col)
                spec["interpolate"] = items
                pos = close + 1
            else:
                spec["interpolate"] = []  # bare: all non-sort columns
                pos = mt.end()
            continue
        if kw == "limit":
            if spec["limit"] is not None:
                raise UnsupportedChSql("WITH FILL: LIMIT given twice")
            nxt = kwre.search(tail_sh, mt.end())
            end = nxt.start() if nxt else len(tail_sh)
            val = tail[mt.end(): end].strip()
            if not re.fullmatch(r"\d+", val):
                raise UnsupportedChSql(
                    "LIMIT after WITH FILL: only a plain integer is "
                    f"bridged (got: {val[:40]}) — LIMIT applies to the "
                    "FILLED result like CH")
            spec["limit"] = int(val)
            pos = end
            continue
        nxt = kwre.search(tail_sh, mt.end())
        end = nxt.start() if nxt else len(tail_sh)
        val = tail[mt.end(): end].strip()
        if not val or spec[kw] is not None:
            raise UnsupportedChSql(
                f"WITH FILL {kw.upper()} needs exactly one value")
        spec[kw] = val
        pos = end
    return sql[: ob.start()].rstrip(), spec


def _with_fill_apply(df: DataFrame, spec: Mapping[str, str]) -> DataFrame:
    """Materialize the missing grid points of the sort column
    (``functions/fill.fill_gaps``'s spine step, driven from SQL).

    CH semantics reproduced: originals (even off-grid values) are
    kept; grid rows are inserted for absent values from FROM (or the
    observed min) to TO exclusive (or the observed max); filled rows
    carry the column type's DEFAULT value (0 for numbers, '' for
    strings, false for booleans) like ClickHouse, not NULL; the
    result sorts ascending by the fill column.  Scale shape: one
    single-row min/max aggregate builds the spine (grid size = chart
    axis, not input rows), one left-anti join on the distinct sort
    values, one union — no per-row Python.
    """
    from pyspark.sql import functions as F

    # Spark and CH resolve identifiers case-insensitively — match the
    # fill column the same way (ADVICE r10: `ORDER BY M WITH FILL`
    # over a column selected as `m` must resolve)
    by_lower = {name.lower(): name for name in df.columns}
    c = by_lower.get(spec["col"].lower())
    if c is None:
        raise UnsupportedChSql(
            f"WITH FILL column `{spec['col']}` is not in the SELECT "
            "list")
    dtypes = dict(df.dtypes)
    dt = dtypes[c]
    integral = dt in ("tinyint", "smallint", "int", "bigint")
    is_date, is_ts = dt == "date", dt.startswith("timestamp")
    if not (integral or is_date or is_ts):
        raise UnsupportedChSql(
            "WITH FILL is bridged for integral, date, and timestamp "
            f"sort columns only (got {dt}) — use "
            "functions/fill.fill_gaps for other axes")
    step = (spec.get("step") or "").strip()
    if step and re.fullmatch(r"\d+", step) and int(step) > 0:
        n = int(step)
        step_sql = (f"INTERVAL {n} DAY" if is_date
                    else f"INTERVAL {n} SECOND" if is_ts else str(n))
    elif step and (is_date or is_ts) and re.fullmatch(
            r"(?is)INTERVAL\s+'?\d+'?\s+\w+", step):
        step_sql = step
    elif not step:
        # CH defaults: 1 for numbers, 1 day for Date, 1 second for
        # DateTime
        step_sql = ("INTERVAL 1 DAY" if is_date
                    else "INTERVAL 1 SECOND" if is_ts else "1")
    else:
        raise UnsupportedChSql(
            "WITH FILL STEP must be a positive integer literal or an "
            f"INTERVAL literal (got: {step})")
    frm = _rewrite_calls(spec["from"]) if spec.get("from") else None
    to = _rewrite_calls(spec["to"]) if spec.get("to") else None
    start = f"CAST(({frm}) AS {dt})" if frm else "__mn"
    stop = f"CAST(({to}) AS {dt})" if to else "__mx"
    # the source plan feeds three legs (bounds, distinct anti-join,
    # union): truncate lineage so it computes once, not 3× (review
    # r10).  localCheckpoint persists the partitions and is cleaned
    # up by the ContextCleaner when the result goes out of scope —
    # no explicit unpersist obligation on the caller.
    df = df.localCheckpoint(eager=False)
    bounds = df.agg(F.min(c).alias("__mn"), F.max(c).alias("__mx"))
    # grid-cardinality guard (review/VERDICT r10 item 4): estimate the
    # axis size ARITHMETICALLY before sequence() materializes the
    # array — a typo'd STEP against a wide FROM/TO must raise by name,
    # not OOM the driver building a billion-element array.  The
    # estimate divides the span by the step's lower-bound width
    # (months count 28 days), so it can only over-trigger by a hair
    # on calendar steps — never under-protect.
    if integral:
        span = f"(CAST(({stop}) AS DOUBLE) - CAST(({start}) AS DOUBLE))"
        step_w = step_sql if not step_sql.upper().startswith("INTERVAL") \
            else "1"
        est = f"({span} / ({step_w}))"
    else:
        span = (f"(unix_timestamp(CAST(({stop}) AS TIMESTAMP)) - "
                f"unix_timestamp(CAST(({start}) AS TIMESTAMP)))")
        im = re.match(r"(?is)INTERVAL\s+'?(\d+)'?\s+(\w+)", step_sql)
        n_i, unit = (int(im.group(1)), im.group(2).lower()) if im \
            else (1, "second")
        unit_s = {"second": 1, "minute": 60, "hour": 3600,
                  "day": 86400, "week": 604800,
                  "month": 28 * 86400, "quarter": 84 * 86400,
                  "year": 365 * 86400}.get(unit.rstrip("s"), 1)
        est = f"({span} / {n_i * unit_s})"
    # the raise rides the sequence's START argument (a NullType guard
    # expression would be constant-folded away by NullPropagation —
    # observed: the raise vanished and sequence OOM'd anyway)
    start_guarded = (
        f"CASE WHEN {est} > {_FILL_GRID_CAP} THEN "
        f"CAST(raise_error(concat('WITH FILL grid would hold ', "
        f"CAST(CAST({est} AS BIGINT) AS STRING), ' points "
        f"(cap {_FILL_GRID_CAP}) — check FROM/TO/STEP')) AS {dt}) "
        f"ELSE ({start}) END")
    grid = bounds.select(F.explode(F.expr(
        f"CASE WHEN ({start}) IS NULL OR ({stop}) IS NULL "
        f"OR ({start}) > ({stop}) THEN CAST(array() AS ARRAY<{dt}>) "
        f"ELSE sequence({start_guarded}, {stop}, {step_sql}) "
        f"END")).alias(c))
    if to:
        # CH's TO bound is exclusive; sequence() is inclusive
        grid = grid.filter(F.col(c) < F.expr(f"CAST(({to}) AS {dt})"))
    missing = grid.join(df.select(c).distinct(), [c], "left_anti")
    interp = spec.get("interpolate")
    if interp == []:  # bare INTERPOLATE: every non-sort column
        interp = [name for name in df.columns if name != c]
    elif interp:
        interp = [by_lower.get(x.lower()) or x for x in interp]
        missing_cols = [x for x in interp if x not in dtypes]
        if missing_cols:
            raise UnsupportedChSql(
                "INTERPOLATE names columns not in the SELECT list: "
                + ", ".join(missing_cols))
    filled = [F.col(c)]
    for name, dtp in df.dtypes:
        if name == c:
            continue
        base = dtp.split("(")[0]
        if interp and name in interp:
            # LOCF seam: NULL here, resolved by the window below
            filled.append(F.lit(None).cast(dtp).alias(name))
        elif base in ("tinyint", "smallint", "int", "bigint", "float",
                      "double", "decimal"):
            filled.append(F.lit(0).cast(dtp).alias(name))
        elif base == "string":
            filled.append(F.lit("").alias(name))
        elif base == "boolean":
            filled.append(F.lit(False).alias(name))
        else:
            filled.append(F.lit(None).cast(dtp).alias(name))
    if not interp:
        # nulls_last: the r12g ordering contract (CH presents NULL
        # axis rows last) — Spark's bare orderBy is NULLS FIRST
        out = df.unionByName(missing.select(*filled)).orderBy(
            F.col(c).asc_nulls_last())
        return (out.limit(spec["limit"])
                if spec.get("limit") is not None else out)
    # INTERPOLATE (LOCF): carry the previous REAL row's value into
    # inserted rows — a struct-wrapped last(ignorenulls) window so a
    # genuine NULL in a real row is carried as NULL, not skipped.
    # Scale shape: one unpartitioned ordered window over input+grid
    # rows — WITH FILL is a single-series (chart-axis) construct in
    # CH too; keyed series at scale use functions/fill.fill_gaps.
    from pyspark.sql import Window

    real = df.withColumn("__fill", F.lit(False))
    ins = missing.select(*filled).withColumn("__fill", F.lit(True))
    u = real.unionByName(ins)
    w = (Window.orderBy(F.col(c).asc_nulls_last())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cols = []
    for name, dtp in df.dtypes:
        if name == c or name not in interp:
            cols.append(F.col(name))
            continue
        carried = F.last(
            F.when(~F.col("__fill"), F.struct(F.col(name).alias("v"))),
            ignorenulls=True,
        ).over(w)
        base = dtp.split("(")[0]
        default = (F.lit(0).cast(dtp) if base in (
            "tinyint", "smallint", "int", "bigint", "float", "double",
            "decimal") else F.lit("") if base == "string"
            else F.lit(False) if base == "boolean"
            else F.lit(None).cast(dtp))
        # leading inserted rows (no previous real row at all → the
        # carried STRUCT is null) take the CH column default; a
        # previous real row holding a genuine NULL carries NULL (the
        # struct wrapper keeps the two cases distinct)
        cols.append(
            F.when(F.col("__fill"),
                   F.when(carried.isNull(), default)
                   .otherwise(carried["v"]))
            .otherwise(F.col(name)).alias(name))
    out = u.select(*cols, F.col("__fill")).orderBy(
        F.col(c).asc_nulls_last()).drop("__fill")
    return (out.limit(spec["limit"])
            if spec.get("limit") is not None else out)


def _star_apply_columns(
    spark: SparkSession,
    sql: str,
    table_map: Mapping[str, str] | None,
) -> str:
    """Expand ``SELECT * [EXCEPT (…)] APPLY (fn) [APPLY (g)…]`` and
    ``COLUMNS('re') [APPLY (fn)…]`` from the SESSION CATALOG
    (VERDICT r10 item 3).

    The pure-text translator raises on both (the column list is not
    in the SQL text), but when the enclosing block's FROM is a plain
    registered table/view the list IS knowable — resolve it here, at
    run_ch_sql time, and expand to explicit projections with CH's
    output names (```sum(price)```).  Anything unresolvable — joins,
    subqueries, table functions, lambda/parameterized APPLY — falls
    through untouched so the translator's NAMED raise still fires.

    CH contract points (docs: SELECT modifiers / COLUMNS expression):
    APPLY chains compose left-to-right (`* APPLY(f) APPLY(g)` →
    ``g(f(col))``); COLUMNS matches by re2 SEARCH (not fullmatch)
    against the source column names.
    """
    fn_rx = re.compile(r"^[A-Za-z_]\w*$")

    def _from_columns(sh: str, depths: list[int], pos: int) -> list[str] | None:
        # scan FORWARD from the modifier for the block's own FROM —
        # _block_end would stop AT the `* EXCEPT (…)` modifier itself
        # (EXCEPT doubles as a set operator there)
        d0 = depths[pos]
        fm = None
        for m0 in re.compile(r"(?i)\bFROM\b").finditer(sh, pos):
            if depths[m0.start()] == d0:
                fm = m0
                break
        if fm is None:
            return None
        f1 = fm.end()
        # FROM segment ends at the next same-depth clause keyword /
        # set operator (a real one: EXCEPT after FROM is never the
        # modifier) / the block's closing paren / end of string
        seg_end = len(sh)
        kw = re.compile(r"(?i)\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|"
                        r"LIMIT|WINDOW|UNION|INTERSECT|EXCEPT|"
                        r"SETTINGS|FORMAT)\b")
        for k in range(f1, len(sh)):
            if sh[k] == ")" and depths[k] == d0 - 1:
                seg_end = k
                break
            if depths[k] == d0:
                m1 = kw.match(sh, k)
                if m1 and not (k > 0 and (sh[k - 1].isalnum()
                                          or sh[k - 1] in "_`")):
                    seg_end = k
                    break
        seg = sh[f1:seg_end]
        # plain relation only: no joins, comma joins, or subqueries
        if ("(" in seg or "," in seg
                or re.search(r"(?i)\bJOIN\b", seg)):
            return None
        m = re.match(r"\s*(`[^`]+`|[A-Za-z_][\w.]*)", sql[f1:seg_end])
        if m is None:
            return None
        rel = m.group(1).strip("`")
        mapped = dict(table_map or {}).get(rel, rel)
        try:
            return list(spark.table(mapped).columns)
        except Exception:
            return None

    def _apply_chain(sh: str, after: int) -> tuple[list[str], int] | None:
        """Parse `APPLY (fn) [APPLY (fn)…]` at `after`; returns
        (fn_names, end_offset) or None if absent/unsupported."""
        fns: list[str] = []
        pos = after
        while True:
            m = re.compile(r"(?i)\s*APPLY\s*\(").match(sh, pos)
            if m is None:
                return (fns, pos) if fns else None
            close = _find_close(sh, m.end() - 1)
            fn = sql[m.end(): close].strip()
            if not fn_rx.match(fn):
                raise UnsupportedChSql(
                    f"* APPLY ({fn!r}): only a plain aggregate/"
                    "function NAME is expanded — lambdas and "
                    "parameterized forms need explicit projections")
            fns.append(fn)
            pos = close + 1

    def _wrap(col: str, fns: list[str]) -> str:
        expr, label = f"`{col}`", col
        for fn in fns:
            expr, label = f"{fn}({expr})", f"{fn}({label})"
        return f"{expr} AS `{label}`"

    # --- COLUMNS('re') [APPLY …] --------------------------------
    guard = 0
    while guard < 32:
        guard += 1
        sh = _mask_literals(sql)
        # `.` in the lookbehind: a qualified `t.COLUMNS(...)` is not
        # the modifier (review r11c)
        m = re.compile(r"(?i)(?<![\w`.])COLUMNS\s*\(").search(sh)
        if m is None:
            break
        close = _find_close(sh, m.end() - 1)
        pat_lit = sql[m.end(): close].strip()
        if not (pat_lit.startswith("'") and pat_lit.endswith("'")):
            break  # translator's named raise handles it
        depths = _depth_map(sh)
        cols = _from_columns(sh, depths, m.start())
        if cols is None:
            break
        try:
            pat = re.compile(pat_lit[1:-1])
        except re.error as exc:
            raise UnsupportedChSql(
                f"COLUMNS({pat_lit}): invalid pattern ({exc})") from exc
        matched = [c for c in cols if pat.search(c)]
        if not matched:
            raise UnsupportedChSql(
                f"COLUMNS({pat_lit}) matches no column of the FROM "
                f"relation (columns: {', '.join(cols)})")
        chain = _apply_chain(sh, close + 1)
        fns, end = chain if chain else ([], close + 1)
        repl = ", ".join(_wrap(c, fns) if fns else f"`{c}`"
                         for c in matched)
        sql = sql[: m.start()] + repl + sql[end:]

    # --- * [EXCEPT (…)] APPLY (…) --------------------------------
    guard, scan = 0, 0
    while guard < 32:
        guard += 1
        sh = _mask_literals(sql)
        m = re.compile(
            r"(?i)\*\s*(?:EXCEPT\s*\(([^()]*)\)\s*)?(?=APPLY\s*\()"
        ).search(sh, scan)
        if m is None:
            break
        # a QUALIFIED star (`t.* APPLY`) is not expanded — consuming
        # only the `*` would leave the `t.` qualifier glued to the
        # first expansion (review r11c); skip it so the translator's
        # named raise fires instead
        k = m.start() - 1
        while k >= 0 and sh[k] in " \t\n":
            k -= 1
        if k >= 0 and sh[k] == ".":
            scan = m.end() + 1
            continue
        depths = _depth_map(sh)
        cols = _from_columns(sh, depths, m.start())
        if cols is None:
            break
        fns, end = _apply_chain(sh, m.end())
        # EXCEPT matches identifiers case-insensitively like Spark/CH
        except_l = {c.strip().strip("`").lower()
                    for c in (m.group(1) or "").split(",") if c.strip()}
        kept = [c for c in cols if c.lower() not in except_l]
        if not kept:
            raise UnsupportedChSql(
                "* EXCEPT(...) APPLY: every column was excepted")
        repl = ", ".join(_wrap(c, fns) for c in kept)
        sql = sql[: m.start()] + repl + sql[end:]
        scan = 0
    return sql


_JOIN_KW_RX = re.compile(
    r"(?i)\b(?:(?:NATURAL|LEFT|RIGHT|FULL|INNER|CROSS|OUTER|SEMI|ANTI)\s+)*JOIN\b")
_JOIN_REL_RX = re.compile(
    r"(?is)\s*([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?\s*"
    r"(?:USING\s*\(([^()]*)\)\s*$|ON\b|$)")
_JOIN_SUB_RX = re.compile(
    r"(?is)\s*(?:AS\s+)?([A-Za-z_]\w*)\s*(?:USING\s*\(([^()]*)\)\s*$|ON\b|$)")
_SUBQUERY_RX = re.compile(r"(?i)\((?=\s*(?:SELECT|WITH)\b)")
#: ``AS name``, ``x ->`` and ``(x, y) ->``
_DEFINED_NAME_RX = re.compile(
    r"(?i)\bAS\s+(\w+)|(?<![\w.`])(\w+)\s*->|\(([\w\s,]*)\)\s*->")
#: a SELECT item ending in an alias without AS: ``expr name``, where
#: ``expr`` ends in a word, a closing bracket or a literal
_IMPLICIT_ALIAS_RX = re.compile(r"(\w+|[)\]'`])\s+([A-Za-z_]\w*)\s*$")


class _JoinBlock(NamedTuple):
    start: int
    end: int
    #: the FROM clause's relations, left to right: (qualifier, table or
    #: view name as written, None for a subquery); None when the clause
    #: is not a plain chain of JOINs
    rels: list[tuple[str, str | None]] | None
    #: names the block itself defines: relation names and aliases,
    #: USING columns, column aliases with or without AS, lambda
    #: parameters (lowercased)
    defined: set[str]


def _join_blocks(sh: str, depths: list[int], text: str) -> list[_JoinBlock]:
    """Every query block of the masked statement ``sh`` whose FROM
    clause joins (``text`` is the unmasked statement)."""
    out: list[_JoinBlock] = []
    for sel in re.finditer(r"(?i)(?<![\w`])SELECT\b", sh):
        bs = sel.start()
        be = _block_end(sh, depths, bs)
        cl = _block_clauses(sh, depths, bs, be)
        if "FROM" not in cl or not _JOIN_KW_RX.search(sh, cl["FROM"][1], be):
            continue
        d0 = depths[bs]
        f_end = min([cl[k][0] for k in cl if cl[k][0] > cl["FROM"][0]] + [be])
        cuts = [cl["FROM"][1]]
        for m in _JOIN_KW_RX.finditer(sh, cl["FROM"][1], f_end):
            if depths[m.start()] == d0:
                cuts += [m.start(), m.end()]
        cuts.append(f_end)
        rels: list[tuple[str, str | None]] | None = []
        defined: set[str] = set()
        for a, b in zip(cuts[::2], cuts[1::2]):
            lead = a + len(sh[a:b]) - len(sh[a:b].lstrip())
            if sh.startswith("(", lead):
                close = _find_partner(sh, lead)
                m = _JOIN_SUB_RX.match(sh, close + 1, b) if lead < close < b else None
                rel, qual = None, m and m.group(1)
            else:
                m = _JOIN_REL_RX.match(sh, a, b)
                rel = m and text[m.start(1): m.end(1)]
                qual = m and (m.group(2) or rel)
            if m is None or qual.lower() in _BRACKET_KEYWORDS:
                rels = None
                break
            defined |= {qual.lower(), (rel or qual).lower()}
            using = m.group(3 if rel is not None else 2)
            defined |= {c.strip().lower() for c in (using or "").split(",")}
            rels.append((qual, rel))
        defined |= {w.lower() for m in _DEFINED_NAME_RX.finditer(sh, bs, be)
                    for w in re.findall(r"\w+", m.group(1) or m.group(2) or m.group(3))}
        for item in _split_args(sh[sel.end():cl["FROM"][0]]):
            m = _IMPLICIT_ALIAS_RX.search(item)
            if m and m.group(1).lower() not in ("select", "distinct", "all"):
                defined.add(m.group(2).lower())
        out.append(_JoinBlock(bs, be, rels, defined))
    return out


def _qualify_refs(sh: str, block: _JoinBlock, col: str, qual: str) -> list[tuple[int, int, str]]:
    """Edits turning the block's bare references to ``col`` into
    ``qual.col``; none when the block defines the name itself.  Nested
    subqueries scope their own columns and are left alone."""
    if col.lower() in block.defined:
        return []
    skip = [(o.start(), _find_partner(sh, o.start()))
            for o in _SUBQUERY_RX.finditer(sh, block.start, block.end)]
    ref = re.compile(rf"(?<![\w.`]){re.escape(col)}(?![\w.`(])")
    return [(m.start(), m.end(), f"{qual}.{col}")
            for m in ref.finditer(sh, block.start, block.end)
            if not any(a < m.start() < b for a, b in skip)]


def _apply_edits(text: str, edits: list[tuple[int, int, str]]) -> str:
    for a, b, rep in sorted(edits, reverse=True):
        text = text[:a] + rep + text[b:]
    return text


def _qualify_join_columns(spark: SparkSession, text: str) -> str:
    """ClickHouse resolves an unqualified column that exists on several
    sides of a join to the LEFTMOST relation holding it; Spark raises
    ``AMBIGUOUS_REFERENCE``.  Qualify such references up front, per
    query block, from the joined views' own columns.

    A block is resolved only when every relation of its FROM clause is
    a plain view or table (no subquery, comma join, CTE name or
    unparsed clause); a name the block defines itself is left alone.
    Spark then still raises for what is left, and :func:`run_ch_sql`
    qualifies it by :func:`_qualify_reported`."""
    sh = _mask_idents(_mask_literals(text))
    ctes = {m.group(1).lower() for m in re.finditer(
        r"(?i)(?:\bWITH|,)\s*([A-Za-z_]\w*)\s+AS\s*\(", sh)}
    columns: dict[str, list[str] | None] = {}
    edits: list[tuple[int, int, str]] = []
    for block in _join_blocks(sh, _depth_map(sh), text):
        if block.rels is None or any(
                rel is None or rel.lower() in ctes for _, rel in block.rels):
            continue
        for _, rel in block.rels:
            if rel not in columns:
                try:
                    columns[rel] = list(spark.table(rel).columns)
                except Exception:
                    columns[rel] = None
        if any(columns[rel] is None for _, rel in block.rels):
            continue
        seen: dict[str, str] = {}  # column → leftmost qualifier
        shared: dict[str, str] = {}
        for qual, rel in block.rels:
            for c in columns[rel]:
                if c in seen:
                    shared[c] = seen[c]
                seen.setdefault(c, qual)
        for col, qual in shared.items():
            edits += _qualify_refs(sh, block, col, qual)
    return _apply_edits(text, edits)


def _qualify_reported(text: str, error: str) -> str | None:
    """The statement with the column of Spark's ``AMBIGUOUS_REFERENCE``
    ``error`` qualified, in each joining block, by the leftmost of its
    relations that Spark lists as holding it: the rule of
    :func:`_qualify_join_columns`, for relations whose columns are only
    known once Spark analyzes them (subqueries, CTEs).  None when the
    error is another one or nothing could be qualified."""
    m = re.search(r"Reference `([^`]+)` is ambiguous, could be: \[(.*?)\]", error)
    if not m:
        return None
    col = m.group(1)
    # each candidate is `qualifier`...`.`col`; its last qualifier part
    # is how the statement names the relation
    holders = {c.lower() for c in re.findall(r"`([^`]+)`\.`[^`]+`(?:,|$)", m.group(2))}
    sh = _mask_idents(_mask_literals(text))
    edits: list[tuple[int, int, str]] = []
    for block in _join_blocks(sh, _depth_map(sh), text):
        qual = next((q for q, _ in block.rels or () if q.lower() in holders), None)
        if qual is not None:
            edits += _qualify_refs(sh, block, col, qual)
    return _apply_edits(text, edits) if edits else None


def run_ch_sql(
    spark: SparkSession,
    sql: str,
    params: Mapping[str, object] | None = None,
    table_map: Mapping[str, str] | None = None,
    strict_scale: bool = False,
) -> DataFrame:
    """One-call entry: substitute template variables, translate the
    dialect (mapping CH table names to Spark views), register the
    scalar shims, run.  ``strict_scale=True`` raises instead of
    warning when a ``topK`` block would keep the n-sized fallback
    expansion (see :class:`TopkFallbackWarning`)."""
    if params:
        sql = substitute(sql, params)
    # eager ANSI/timezone-token check only — actual shim registration
    # is LAZY (per final statement, below): the full set is ~150 py4j
    # round-trips, ~5 s on a fresh session (the r16 "first-build" cost)
    register_ch_functions(spark, needed=())
    sql = _normalize_escapes(sql)  # before the bridge scans literals
    sql = _star_apply_columns(spark, sql, table_map)
    sql, fill_spec = _extract_with_fill(sql)
    # one ASOF bridged per pass; loop for parallel branches (each pass
    # consumes its FROM…JOIN…cond region, so the count strictly drops)
    asof_views: list[str] = []
    try:
        # inside the try: a raise from a LATER bridge pass (chained-
        # ASOF contract, unsupported ON term, the >8 cap) must still
        # drop the views earlier passes registered (advice r13)
        for _ in range(8):
            sql, asof_view = _bridge_asof_join(spark, sql, table_map)
            if asof_view is None:
                break
            asof_views.append(asof_view)
        else:
            raise UnsupportedChSql(
                "more than 8 ASOF JOINs in one statement — split the "
                "query")
        text = translate_ch_sql(sql, table_map, strict_scale=strict_scale)
        # register exactly the shims this statement can call: every
        # function Spark will resolve appears textually as `name(` in
        # the final statement (literals masked so string contents
        # cannot fake a call site); over-matching a non-shim name is
        # harmless — the needed-set is intersected with the shim dict
        register_ch_functions(spark, needed={
            m.group(1)
            for m in re.finditer(r"\b([A-Za-z_]\w*)\s*\(",
                                 _mask_literals(text))
        })
        # CH resolves an unqualified column that exists on several join
        # sides to the LEFTMOST relation holding it; Spark raises
        # AMBIGUOUS_REFERENCE.  Plain-view joins are qualified before
        # the first analysis (the reference's panels rely on this for
        # `board` in trades⋈securities WHERE clauses); a column of a
        # subquery or CTE side is qualified from the error, by the same
        # rule, and the statement retried.
        text = _qualify_join_columns(spark, text)
        for _ in range(5):
            try:
                out = spark.sql(text)
                return _with_fill_apply(out, fill_spec) if fill_spec else out
            except Exception as e:
                fixed = _qualify_reported(text, str(e))
                if fixed is None or fixed == text:
                    raise
                text = fixed
        out = spark.sql(text)
        return _with_fill_apply(out, fill_spec) if fill_spec else out
    finally:
        # spark.sql analyzes eagerly, inlining the views into the
        # returned DataFrame's plan — safe to drop here even though
        # the caller has not collected yet
        for v in asof_views:
            spark.catalog.dropTempView(v)


# ---- alias-in-WHERE inlining -------------------------------------------
# CH resolves SELECT-list aliases inside the same query's WHERE (the
# reference's panels bucket in the SELECT and filter on the alias:
# `WHERE minute >= $__fromTime`, GDJ:113).  Spark resolves aliases in
# GROUP BY / ORDER BY / HAVING but not WHERE, so the translator inlines
# the defining expression at the reference site.

_ALIAS_RE = re.compile(r"(?is)^(.*\S)\s+AS\s+(`[^`]*`|[A-Za-z_]\w*)\s*$")
_STOP_AFTER_WHERE = {"group", "having", "order", "limit", "union", "window"}
_WORD_RX = re.compile(r"[()'`]|([^\W\d]\w*)")


def _scan_words(s: str) -> list[tuple[str, int, int]]:
    """(lowercased word, start, end) for every bare word at paren depth
    0, outside quotes/backticks."""
    res: list[tuple[str, int, int]] = []
    m = _WORD_RX.search(s)
    while m is not None:
        if m.group(1):
            res.append((m.group(1).lower(), m.start(), m.end()))
            i = m.end()
        elif m.group(0) == ")":
            break
        else:
            i = _find_partner(s, m.start())
            if i < 0:
                break
            i += 1
        m = _WORD_RX.search(s, i)
    return res


def _replace_alias_refs(segment: str, alias: str, expr: str) -> str:
    """Replace standalone references to ``alias`` (bare or backticked)
    in ``segment`` with the parenthesized expression."""
    rep = f"({expr.strip()})"
    if alias.startswith("`"):
        segment = _sub_masked(re.compile(re.escape(alias)), rep, segment)
        inner = alias[1:-1]
        if not re.fullmatch(r"[A-Za-z_]\w*", inner):
            return segment  # not addressable unquoted
        alias = inner  # a quoted alias may still be referenced bare
    pat = re.compile(
        rf"(?<![\w.`]){re.escape(alias)}(?![\w.`(])"
    )
    return _sub_masked(pat, rep, segment)


def _inline_block(s: str) -> str:
    words = _scan_words(s)
    # split on depth-0 SET-OPERATOR boundaries; process each side
    # alone.  INTERSECT/EXCEPT count too (r13 probe: with only UNION
    # split, the first branch's aliases inlined into the SECOND
    # branch's alias-definition sites — `AS v` became `AS (number)`).
    # EXCEPT is dual-use: the star-modifier `* EXCEPT (col)` must not
    # split, so the set-operator reading requires the usual
    # ALL/DISTINCT/SELECT/WITH/( SELECT lookahead.
    for w, a, _ in words:
        if w in ("union", "intersect", "except"):
            right = s[a:]
            if w == "except" and not re.match(
                    rf"(?is)^except\s*(?:{_SETOP_EXCEPT_RX})", right):
                continue
            m = re.match(
                r"(?is)^(?:union|intersect|except)"
                r"(\s+all|\s+distinct)?", right)
            head = m.group(0)
            return (_inline_block(s[:a]) + head
                    + _inline_block(right[len(head):]))
    sel = nxt = whr = hav = None
    for w, a, b in words:
        if w == "select" and sel is None:
            sel = (a, b)
        elif w == "from" and sel is not None and nxt is None:
            nxt = (a, b)
        elif w == "where" and whr is None:
            whr = (a, b)
        elif w == "having" and hav is None:
            hav = (a, b)
    if sel is None or nxt is None:
        return s
    items = _split_args(s[sel[1] : nxt[0]])
    aliases: list[tuple[str, str]] = []
    for item in items:
        m = _ALIAS_RE.match(item)
        if m:
            aliases.append((m.group(2), m.group(1)))
    if not aliases:
        return s

    def clause_end(start: int) -> int:
        for w, a, _ in words:
            if a > start and w in _STOP_AFTER_WHERE:
                return a
        return len(s)

    spans = []
    if whr:
        spans.append((whr[1], clause_end(whr[1])))
    if hav:
        spans.append((hav[1], clause_end(hav[1])))
    if not spans:
        return s
    out, pos = [], 0
    for a, b in sorted(spans):
        out.append(s[pos:a])
        out.append(_replace_alias_refs_outside_subqueries(
            s[a:b], aliases))
        pos = b
    out.append(s[pos:])
    return "".join(out)


def _replace_alias_refs_outside_subqueries(
    seg: str, aliases: list[tuple[str, str]]
) -> str:
    """Alias inlining with SUBQUERY scope awareness in the
    WHERE/HAVING segment (r13 fuzz + review):

    - a nested ``(SELECT …)`` / ``(WITH …)`` that itself SPELLS
      ``AS <alias>`` anywhere binds that name in its own scope —
      inlining there corrupts the inner alias-definition sites
      (``… AS g`` became ``… AS (t1.g)``), so such spans are skipped
      for that alias;
    - a span that does NOT rebind the name keeps the pre-r13
      behavior — CH resolves an outer SELECT alias inside a WHERE
      subquery (correlated use: ``WHERE d IN (SELECT … WHERE x <= d)``),
      and skipping wholesale regressed that class (r13 review)."""
    sh = _mask_literals(seg)
    parts: list[tuple[bool, str]] = []  # (is_subquery, text)
    i, n, last = 0, len(seg), 0
    while i < n:
        if sh[i] == "(":
            j = i + 1
            while j < n and sh[j] in " \t\n":
                j += 1
            if re.match(r"(?i)(SELECT|WITH)\b", sh[j:]):
                close = _find_close(sh, i)
                if close > 0:
                    parts.append((False, seg[last:i]))
                    parts.append((True, seg[i: close + 1]))
                    last = close + 1
                    i = close + 1
                    continue
        i += 1
    parts.append((False, seg[last:]))
    out = []
    for is_sub, txt in parts:
        for alias, expr in aliases:
            if is_sub:
                bare = alias[1:-1] if alias.startswith("`") else alias
                if re.search(
                        rf"(?is)\bAS\s+(?:`{re.escape(bare)}`"
                        rf"|{re.escape(bare)}\b)",
                        _mask_literals(txt)):
                    continue  # span rebinds the name — its scope wins
            txt = _replace_alias_refs(txt, alias, expr)
        out.append(txt)
    return "".join(out)


def _inline_where_aliases(s: str) -> str:
    """Recursively inline same-block SELECT aliases referenced from
    WHERE/HAVING — subqueries first, then this block."""
    out, last = [], 0
    m = _OPEN_RX.search(s)
    while m is not None:
        i = m.start()
        if s[i] == "(":
            j = _find_close(s, i)
            out += [s[last:i], "(", _inline_where_aliases(s[i + 1: j]), ")"]
            last = j + 1
        else:
            j = _find_partner(s, i)
            if j < 0:
                break
        m = _OPEN_RX.search(s, j + 1)
    out.append(s[last:])
    return _inline_block("".join(out))
