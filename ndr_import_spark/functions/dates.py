"""Date parsing — ``format:`` and ``daysafter:`` field ops.

Reference semantics (``lib/ndr_import/mapper.rb:206-212,225-227`` +
``test/mapper_test.rb:356-369,427-445``):

* ``format: dd/mm/yyyy`` → parse with ndr_support String#to_date; blank→nil;
  invalid date (e.g. month 25) → nil; ``yyyymmdd``-style compact formats too.
* ``daysafter: '2012-05-16'`` → if the cell is an integer-string, epoch + N
  days as a Date; anything else passes through unchanged.

Spark: ``try_to_date`` nulls on failure (parity with the nil case);
``date_add`` for daysafter. All pure Column expressions.
"""

from __future__ import annotations

import re
from datetime import date, datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from ndr_import_spark.functions.text import blank

# ruby-style format token → Java DateTimeFormatter token
_FORMAT_TOKENS = [
    ("yyyy", "yyyy"),
    ("yy", "yy"),
    ("mmm", "MMM"),
    ("mm", "MM"),
    ("m", "M"),
    ("dd", "dd"),
    ("d", "d"),
]


def translate_date_format(fmt: str) -> str:
    """'dd/mm/yyyy' → 'dd/MM/yyyy', 'yyyymmdd' → 'yyyyMMdd', etc."""
    out = []
    i = 0
    low = fmt.lower()
    while i < len(low):
        for tok, java in _FORMAT_TOKENS:
            if low.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def try_to_date(col: Column, ruby_format: str) -> Column:
    """Parse with the mapping's date format; blank/unparseable → NULL."""
    java_fmt = translate_date_format(ruby_format)
    return F.when(~blank(col), F.try_to_date(F.trim(col), java_fmt))


_INT_RE = r"^-?\d+$"


def daysafter(col: Column, epoch: object) -> Column:
    """Integer-string cells → epoch+N days (as ISO date string); everything
    else passes through unchanged (mapper.rb:225-227).

    Ruby's guard is ``value.to_i.to_s == value.to_s`` — so '02' is NOT
    integer-like (to_i.to_s = '2') and passes through. We reproduce that with
    a regex forbidding leading zeros (except '0' itself and '-0'... which Ruby
    also treats as non-matching since '-0'.to_i.to_s == '0').
    """
    epoch_date = _coerce_date(epoch)
    intlike = col.cast("string").rlike(r"^-?[1-9]\d*$") | (col.cast("string") == "0")
    added = F.date_add(F.lit(epoch_date), col.cast("int"))
    return F.when(intlike, added.cast("string")).otherwise(col)


def _coerce_date(epoch: object) -> date:
    if isinstance(epoch, datetime):
        return epoch.date()
    if isinstance(epoch, date):
        return epoch
    s = str(epoch).strip()
    m = re.fullmatch(r"(\d{4})-(\d{2})-(\d{2})", s)
    if not m:
        raise ValueError(f"daysafter epoch not ISO yyyy-mm-dd: {epoch!r}")
    return date(int(m.group(1)), int(m.group(2)), int(m.group(3)))
