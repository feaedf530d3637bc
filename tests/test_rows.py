"""``operators/rows.map_rows``: the one batch loop of the row-emitting UDFs."""

from geotiff_scalable_analysis_pipeline_spark.operators.rows import map_rows


def test_rows_that_yield_nothing_give_an_empty_frame(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string")

    def none(k, s):
        return iter(())

    out = map_rows(df, ("k", "s"), "k long, s string, n int", none)
    assert out.schema.simpleString() == "struct<k:bigint,s:string,n:int>"
    assert out.collect() == []


def test_many_rows_per_input_keep_their_order(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long").coalesce(1)

    def repeat(k):
        for i in range(k):
            yield k, i

    got = [tuple(r) for r in map_rows(df, ("k",), "k long, i int", repeat).collect()]
    assert got == [(1, 0), (2, 0), (2, 1), (3, 0), (3, 1), (3, 2)]


def test_values_bind_by_schema_position(spark):
    df = spark.createDataFrame([("x", 7, b"\x01")], "s string, k long, b binary")

    def swap(b, s, k):  # input order is ``cols``, output order is the schema
        yield k * 2, bytes(b) + b"\x02", s.upper()

    out = map_rows(df, ("b", "s", "k"), "twice long, blob binary, name string", swap)
    assert out.columns == ["twice", "blob", "name"]
    [(twice, blob, name)] = out.collect()
    assert (twice, bytes(blob), name) == (14, b"\x01\x02", "X")
