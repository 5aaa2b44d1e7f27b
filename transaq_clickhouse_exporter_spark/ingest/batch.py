"""Batch bootstrap path — the reference's ``main()`` securities load
(``/root/reference/main.go:71-229``).

The reference iterates the securities directory once, applying three
filter families and building three subscription lists; here each is a
declarative DataFrame op (Catalyst pushes the predicates into the scan):

- validity filter (main.go:141-143): ``secid != 0 AND active = 'true'
  AND len(seccode) <= 16`` — gates *persistence*.
- board membership (main.go:106-109, 128-130): ``board IN
  exportSecBoards`` (default TQBR,TQCB,FUT) — gates *subscriptions*.
- code match (main.go:166-175): ``exportSecCode == seccode OR
  seccode CONTAINS exportSecCode OR exportSecCode == shortname OR
  exportSecCode == 'ALL'`` — gates the quotations subscription.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import schemas

#: Reference defaults (main.go:105-106).
DEFAULT_BOARDS = ("TQBR", "TQCB", "FUT")


def valid_securities(raw: DataFrame) -> DataFrame:
    """Validity filter (main.go:141-143) + projection/cast to the
    persisted 12-column schema (main.go:146-157, O-1)."""
    return valid_securities_raw(raw).select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schemas.SECURITIES.fields]
    )


def _code_match(codes: Sequence[str]) -> F.Column:
    """The quotations-subscription code predicate (main.go:166-175)."""
    pred = F.lit(False)
    for code in codes:
        pred = (
            pred
            | (F.col("seccode") == code)
            | F.col("seccode").contains(code)
            | (F.col("shortname") == code)
            | F.lit(code == "ALL")
        )
    return pred


def quotation_subscription(
    raw: DataFrame,
    boards: Sequence[str] = DEFAULT_BOARDS,
    export_sec_codes: Sequence[str] = (),
) -> DataFrame:
    """Securities to subscribe for quotations (main.go:159-176): must
    pass validity, board membership, and — only when the export list is
    non-empty — the code match."""
    if not export_sec_codes:
        return raw.filter(F.lit(False)).select("secid")
    base = valid_securities_raw(raw).filter(F.col("board").isin(list(boards)))
    return base.filter(_code_match(export_sec_codes)).select("secid")


def valid_securities_raw(raw: DataFrame) -> DataFrame:
    """Validity filter without the projection (keeps raw columns)."""
    return raw.filter(
        (F.col("secid") != 0)
        & (F.col("active") == "true")
        & (F.length("seccode") <= 16)
    )


def alltrades_subscription(
    raw: DataFrame,
    boards: Sequence[str] = DEFAULT_BOARDS,
    alltrades_codes: Sequence[str] = (),
) -> DataFrame:
    """All-trades subscription ids (main.go:130-133): board membership
    AND exact seccode membership.  NB: the reference checks this
    *before* the validity filter."""
    return raw.filter(
        F.col("board").isin(list(boards)) & F.col("seccode").isin(list(alltrades_codes))
    ).select("secid")


def sec_info_subscription(raw: DataFrame, info_names: Sequence[str] = ()) -> DataFrame:
    """Bond sec-info request ids (main.go:134-139): ``sectype = 'BOND'``
    AND shortname ends with any configured name (also pre-validity)."""
    if not info_names:
        return raw.filter(F.lit(False)).select("secid")
    pred = F.lit(False)
    for name in info_names:
        pred = pred | F.col("shortname").endswith(name)
    return raw.filter((F.col("sectype") == "BOND") & pred).select("secid")


def filter_candle_kinds(kinds: Sequence[dict], period_seconds: Sequence[str]) -> list[dict]:
    """History-subscription kind gate (main.go:177-188): when
    ``EXPORT_PERIOD_SECONDS`` is set, only candle kinds whose period is
    listed get a ``gethistorydata`` request; empty ⇒ all kinds."""
    if not period_seconds:
        return list(kinds)
    wanted = {str(p) for p in period_seconds}
    return [k for k in kinds if str(k.get("period")) in wanted]


def backfill_candles(fetch_page, page_size: int):
    """History backfill (S8, main.go:189-221): page via the reference's
    ``dataCandleCount`` handshake — keep requesting while a page comes
    back full; a short page terminates.  ``fetch_page(offset, n)``
    returns a list of raw candle rows (the source adapter); pages are
    unioned by the caller into one DataFrame.

    The reference's 2 s inter-page sleep is an upstream-API courtesy,
    not engine semantics — deliberately dropped."""
    out = []
    offset = 0
    while True:
        page = fetch_page(offset, page_size)
        out.extend(page)
        if len(page) < page_size:
            return out
        offset += len(page)
