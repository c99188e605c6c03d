"""The domain oracle's cents snap must round a double the way Spark's
`Exact.dec2` does: HALF_UP on the double's shortest decimal repr, once.

`DomainOracle.vsnap` is read from its Scala source, so this checks the SQL
the oracle really runs, in DuckDB (no Spark needed):

    python3 tools/test_vsnap.py
"""
import re
import unittest
from decimal import ROUND_HALF_UP, Decimal
from pathlib import Path

import duckdb

ORACLE = Path(__file__).resolve().parent.parent / "src/main/scala/graft/domain/DomainOracle.scala"


def vsnap_template():
    src = ORACLE.read_text()
    m = re.search(r'def vsnap\(x: String\): String =\s*s"(.*?)"\n', src)
    assert m, "vsnap not found in DomainOracle.scala"
    return m.group(1)


def spark_dec2(x):
    """Spark's double -> DECIMAL(18,2): HALF_UP on the shortest repr."""
    return Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)


class VsnapTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()
        self.template = vsnap_template()

    def snap(self, x):
        expr = self.template.replace("$x", f"CAST('{x!r}' AS DOUBLE)")
        return self.con.sql(f"SELECT {expr}").fetchone()[0]

    def test_long_repr_rounds_once(self):
        # a sum whose shortest repr sits just below a half cent: rounding
        # its repr to 12 places first lifts it onto the tie (174.835) and
        # the second rounding then goes up, a cent above Spark
        self.assertEqual(self.snap(174.83499999999998), Decimal("174.83"))

    def test_half_cent_tie_rounds_up(self):
        self.assertEqual(self.snap(0.145), Decimal("0.15"))
        self.assertEqual(self.snap(2.675), Decimal("2.68"))

    def test_matches_spark_on_sums_of_prices(self):
        # running sums of 2-dp prices: the shape of the oracle's
        # sum(price) inputs, whose float error lands in the last digits
        total = 0.0
        for i in range(2000):
            total += (i * 37 % 1000) / 100 + 0.005 * (i % 3)
            self.assertEqual(self.snap(total), spark_dec2(total), repr(total))


if __name__ == "__main__":
    unittest.main()
