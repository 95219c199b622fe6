"""Lab trend classification (structuredExtraction.effect.ts:562-631):
INCREASING / DECREASING / STABLE(<5%) / FLUCTUATING (swing > 1.5x |delta|) /
INSUFFICIENT_DATA over time-ordered lab values."""

import datetime as dt


def _mk(spark, series):
    """series: {test: [(day, value), ...]} -> docs df with `labs` arrays."""
    rows = []
    i = 0
    for test, points in series.items():
        for day, value in points:
            rows.append((
                i,
                dt.datetime(2024, 1, day),
                [{"test": test, "value": float(value), "unit": "u", "status": "NORMAL"}],
            ))
            i += 1
    return spark.createDataFrame(
        rows,
        "doc_id int, ts timestamp, labs array<struct<test:string,value:double,unit:string,status:string>>",
    )


def test_trend_classification(spark):
    from scrubah_pii_spark.operators.extraction_op import lab_trends

    df = _mk(spark, {
        "WBC": [(1, 5.0), (2, 7.0), (3, 10.0)],        # +100% monotone -> INCREASING
        "HGB": [(1, 15.0), (2, 12.0), (3, 9.0)],        # -40% monotone -> DECREASING
        "PLT": [(1, 200.0), (2, 202.0), (3, 204.0)],    # +2% -> STABLE
        "GLU": [(1, 100.0), (2, 300.0), (3, 110.0)],    # swing 200 > 1.5*10 -> FLUCTUATING
        "INR": [(1, 1.0)],                              # single point -> INSUFFICIENT_DATA
    })
    out = {r["test"]: r["trend"] for r in lab_trends(df, "doc_id", "ts").collect()}
    assert out == {
        "WBC": "INCREASING",
        "HGB": "DECREASING",
        "PLT": "STABLE",
        "GLU": "FLUCTUATING",
        "INR": "INSUFFICIENT_DATA",
    }
