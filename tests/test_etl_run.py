"""``POST /etl/run``'s body (api.app.run_etl) without fastapi: tier
counts on a small dirty CSV, the four written tables, and no cached
frame left behind."""

import os

from python_etl_rest_api_spark.api.app import run_etl

# four clean rows (one with a missing name to impute) and one row per
# critical class of FIXTURES.md A1
DIRTY_CSV = """\
id,name,company_id,amount,status,created_at,paid_at
a1,MiPasajefy,c1,10.50,paid,2019-01-01,2019-01-02
a2,MiPasajefy,c1,20.00,PAID,2019-01-02,
a3,,c1,5.25,voided,2019-01-03,
a4,Muebles chidos,c2,7.00,pending_payment,2019-01-03,
,MiPasajefy,c1,1.00,paid,2019-01-04,
a6,MiPasajefy,,1.00,paid,2019-01-04,
a7,MiPasajefy,c1,3.0e213231213123,paid,2019-01-04,
a8,MiPasajefy,c1,1.00,paid,,
a9,Muebles chidos,c2,999999999999999.99,paid,2019-01-05,
"""


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_run_etl_counts_and_leaves_nothing_cached(spark, tmp_path):
    csv = tmp_path / "charges.csv"
    csv.write_text(DIRTY_CSV)
    out = str(tmp_path / "wh")
    before = _persistent_rdds(spark)

    res = run_etl(spark, str(csv), out)

    assert res == {"counts": {"original": 9, "clean": 4, "critical": 5},
                   "out_dir": out}
    assert _persistent_rdds(spark) <= before
    read = {t: spark.read.parquet(os.path.join(out, t))
            for t in ("clean", "critical", "companies", "charges")}
    assert read["clean"].count() == 4
    assert read["critical"].count() == 5
    assert read["charges"].count() == 4
    assert read["companies"].count() == 2
