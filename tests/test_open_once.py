"""Path-backed tables: opened once per ``execute()`` call, with the schema
the catalog carries, and rebuilt in one place on every mutation.

A path-backed ``TagDef``/``EdgeDef`` carries the Parquet schema of its
table: taken from the first open, replaced by every commit. Every later
open hands it to the reader, so opening runs no Spark job. Inside one
``execute()`` call each table is opened at most once; a commit reopens
it. Between calls every open lists the directory again.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nebula_spark.catalog import GraphSpace
from nebula_spark.plans import execute

PLAYER = "_vid string, name string, age long"
LIKE = "_src string, _dst string, _rank long, likeness long"


def _space(spark, tmp_path, name):
    tp, ep = str(tmp_path / "player"), str(tmp_path / "like")
    spark.createDataFrame(
        [("p1", "Tim", 42), ("p2", "Tony", 36), ("p3", "Manu", 41)], PLAYER
    ).write.mode("overwrite").parquet(tp)
    spark.createDataFrame(
        [("p1", "p2", 0, 95), ("p1", "p3", 0, 90), ("p2", "p1", 0, 80),
         ("p3", "p1", 0, 5)], LIKE
    ).write.mode("overwrite").parquet(ep)
    sp = GraphSpace(spark, name)
    sp.create_tag("player", path=tp)
    sp.create_edge("like", path=ep)
    return sp, tp, ep


def _jobs_during(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(10_000)
    before = sc.statusStore().jobsList(None).size()
    out = fn()
    sc.listenerBus().waitUntilEmpty(10_000)
    return out, sc.statusStore().jobsList(None).size() - before


def _names(sp):
    return sorted(r.n for r in execute(
        sp, "LOOKUP ON player YIELD player.name AS n").collect())


GO_GROUP = ('GO FROM "p1", "p2", "p3" OVER like WHERE like.likeness > 10 '
            "YIELD src(edge) AS s, like.likeness AS l "
            "| GROUP BY $-.s YIELD $-.s AS s, count(*) AS n, max($-.l) AS top "
            "| ORDER BY $-.n DESC, $-.s")
# $b reads player again through the destination's props.
VAR_JOIN = ("$a = LOOKUP ON player WHERE player.age > 0 "
            "YIELD id(vertex) AS id, player.age AS age; "
            '$b = GO FROM "p1", "p2", "p3" OVER like '
            "WHERE like.likeness > 10 "
            "YIELD src(edge) AS s, dst(edge) AS d, $$.player.name AS dn; "
            "YIELD $a.id AS id, $a.age AS age, $b.dn AS dn "
            "FROM $a INNER JOIN $b ON $a.id == $b.s")

# $a holds p1 twice (p2 and p3 both like p1), and GO FROM a runtime input
# walks once per input row: each hop row appears twice. The rows are
# numbered without a checkpoint, since no `$a.x` prop is read back.
GO_FROM_VAR = ('$a = GO FROM "p2", "p3" OVER like YIELD dst(edge) AS id; '
               "GO FROM $a.id OVER like "
               "YIELD src(edge) AS s, dst(edge) AS d")


@pytest.mark.parametrize("query,expected", [
    (GO_GROUP, [("p1", 2, 95), ("p2", 1, 80)]),
    (VAR_JOIN, [("p1", 42, "Tony"), ("p1", 42, "Manu"),
                ("p2", 36, "Tim")]),
    (GO_FROM_VAR, [("p1", "p2")] * 2 + [("p1", "p3")] * 2),
], ids=["go_group_by", "var_join", "go_from_var"])
def test_statement_build_runs_no_jobs_and_opens_once(spark, tmp_path,
                                                     monkeypatch, query,
                                                     expected):
    sp, tp, ep = _space(spark, tmp_path, "open_once")
    execute(sp, query)       # the first opens fill the carried schemas
    from pyspark.sql.readwriter import DataFrameReader
    opened: list[str] = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **kw):
        opened.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    df, jobs = _jobs_during(spark, lambda: execute(sp, query))
    assert jobs == 0
    assert len(opened) == len(set(opened)) and set(opened) <= {tp, ep}
    assert sorted(tuple(r) for r in df.collect()) == sorted(expected)


def test_file_added_between_calls_is_visible(spark, tmp_path):
    sp, tp, _ = _space(spark, tmp_path, "open_listing")
    assert _names(sp) == ["Manu", "Tim", "Tony"]
    spark.createDataFrame([("p9", "Zed", 30)], PLAYER) \
        .write.mode("append").parquet(tp)
    assert _names(sp) == ["Manu", "Tim", "Tony", "Zed"]
    # direct reads outside execute() list the directory on every call too
    spark.createDataFrame([("p8", "Yao", 31)], PLAYER) \
        .write.mode("append").parquet(tp)
    assert sp.tag("player").count() == 5


@pytest.mark.parametrize("stmt", [
    'INSERT VERTEX player(name, age) VALUES "p4":("Boris", 35)',
    'UPDATE VERTEX ON player "p1" SET age = 43',
    'DELETE VERTEX "p2"',
    "ALTER TAG player ADD (city string)",
    "ALTER TAG player DROP (age)",
    'INSERT EDGE like(likeness) VALUES "p3"->"p2":(70)',
    "ALTER EDGE like ADD (since int)",
])
def test_carried_schema_matches_disk_after_commit(spark, tmp_path, stmt):
    sp, tp, ep = _space(spark, tmp_path, "open_schema")
    _names(sp)
    execute(sp, stmt)
    for d, path in ((sp.tags["player"], tp), (sp.edges["like"], ep)):
        assert d.path == path and d.df is None
        if d.schema is not None:
            assert d.schema == spark.read.parquet(path).schema, d.name
    d = sp.edges["like"] if "EDGE" in stmt else sp.tags["player"]
    assert d.schema == spark.read.parquet(d.path).schema


def test_insert_keeps_schema_comment(spark, tmp_path):
    sp, _, _ = _space(spark, tmp_path, "open_comment")
    execute(sp, 'ALTER TAG player COMMENT = "people"')
    execute(sp, 'INSERT VERTEX player(name, age) VALUES "p4":("Boris", 35)')
    assert sp.tags["player"].schema_comment == "people"
    text = execute(sp, "SHOW CREATE TAG player").collect()[0][1]
    assert 'comment = "people"' in text


def test_alter_add_on_path_backed_tag_writes_through(spark, tmp_path):
    sp, tp, _ = _space(spark, tmp_path, "open_alter")
    execute(sp, "ALTER TAG player ADD (city string)")
    execute(sp, 'INSERT VERTEX player(name, age, city) '
                'VALUES "p4":("Boris", 35, "Paris")')
    assert sp.tags["player"].path == tp and sp.tags["player"].df is None
    sp2 = GraphSpace(spark, "open_alter_reopen")
    sp2.create_tag("player", path=tp)
    rows = {(r.n, r.c) for r in execute(
        sp2, "LOOKUP ON player YIELD player.name AS n, "
             "player.city AS c").collect()}
    assert rows == {("Tim", None), ("Tony", None), ("Manu", None),
                    ("Boris", "Paris")}


def test_dropped_column_stays_refused_after_dml(spark, tmp_path):
    sp, _, _ = _space(spark, tmp_path, "open_dropped")
    execute(sp, "ALTER TAG player DROP (age)")
    execute(sp, 'INSERT VERTEX player(name) VALUES "p4":("Boris")')
    with pytest.raises(ValueError, match="Schema exisited before!"):
        execute(sp, "ALTER TAG player ADD (age int)")


def test_failed_commit_leaves_old_table(spark, tmp_path, monkeypatch):
    """A commit whose frame raises while it is written: the statement
    raises, no temp sibling is left beside the table, the def is the old
    one, and the next statement reads the old rows."""
    from nebula_spark.operators import mutate
    sp, tp, _ = _space(spark, tmp_path, "open_fail")
    assert _names(sp) == ["Manu", "Tim", "Tony"]
    before = sp.tags["player"]
    insert_rows = mutate.insert_rows

    def failing(table, rows, key, if_not_exists=False):
        # raised by the stored rows, so in the write's own tasks
        table = table.withColumn(
            "age", F.raise_error(F.lit("write failed")).cast("long"))
        return insert_rows(table, rows, key, if_not_exists)

    monkeypatch.setattr(mutate, "insert_rows", failing)
    with pytest.raises(Exception, match="write failed"):
        execute(sp, 'INSERT VERTEX player(name, age) VALUES "p4":("Bo", 9)')
    monkeypatch.undo()
    assert sorted(os.listdir(tmp_path)) == ["like", "player"]
    assert sp.tags["player"] is before
    assert _names(sp) == ["Manu", "Tim", "Tony"]
    assert spark.read.parquet(tp).count() == 3


def test_script_variable_outlives_commit_to_its_table(spark, tmp_path):
    """A script variable holds the rows it was bound to: a later
    statement of the same script that commits to the table the variable
    reads (which replaces the table's files) changes neither whether
    the variable can be read nor what it holds."""
    sp, _, _ = _space(spark, tmp_path, "open_var_commit")
    insert = 'INSERT VERTEX player(name, age) VALUES "{}":("{}", 20); '
    got = execute(sp, "$a = LOOKUP ON player YIELD id(vertex) AS id; "
                  + insert.format("p9", "Zed")
                  + "YIELD $a.id AS id").collect()
    assert sorted(r.id for r in got) == ["p1", "p2", "p3"]
    assert _names(sp) == ["Manu", "Tim", "Tony", "Zed"]
    # a variable over a table the script does not commit to
    got = execute(sp, '$l = GO FROM "p1" OVER like YIELD dst(edge) AS d; '
                  + insert.format("p8", "Ann")
                  + "YIELD $l.d AS d").collect()
    assert sorted(r.d for r in got) == ["p2", "p3"]
