"""Parser unit tests — modelled on the reference's nsdb-sql parser specs
(SelectSQLStatementSpec, AggregationSQLStatementSpec, RelativeTimeSQLStatementSpec,
SQLStatementBracketsSpec, InsertSQLStatementSpec, DeleteSQLStatementSpec)."""
import pytest

from nsdb_spark.sql import ast
from nsdb_spark.sql.errors import SQLParseError
from nsdb_spark.sql.parser import parse


def test_select_star():
    s = parse("select * from people")
    assert isinstance(s, ast.SelectSQLStatement)
    assert s.metric == "people"
    assert isinstance(s.fields, ast.AllFields)
    assert not s.distinct


def test_select_fields_order_limit():
    s = parse("SELECT name, surname FROM people ORDER BY timestamp DESC LIMIT 5")
    assert [f.name for f in s.fields] == ["name", "surname"]
    assert s.order == ast.OrderOperator("timestamp", descending=True)
    assert s.limit == ast.LimitOperator(5)


def test_select_distinct_single_field():
    s = parse("select distinct name from people")
    assert s.distinct
    assert [f.name for f in s.fields] == ["name"]


def test_where_equality_unquoted_string():
    s = parse("select * from people where name = john")
    assert s.condition.expression == ast.EqualityExpression(
        "name", ast.AbsoluteComparisonValue("john")
    )


def test_where_quoted_string_with_spaces():
    s = parse("select * from people where name = 'John Doe'")
    assert s.condition.expression == ast.EqualityExpression(
        "name", ast.AbsoluteComparisonValue("John Doe")
    )


def test_where_comparison_and_range():
    s = parse("select * from m where value >= 2 and timestamp in (4, 10)")
    e = s.condition.expression
    assert isinstance(e, ast.TupledLogicalExpression) and e.operator == "and"
    assert e.expression1 == ast.ComparisonExpression(
        "value", ">=", ast.AbsoluteComparisonValue(2)
    )
    assert e.expression2 == ast.RangeExpression(
        "timestamp", ast.AbsoluteComparisonValue(4), ast.AbsoluteComparisonValue(10)
    )


def test_not_equal_desugars_to_not_equality():
    s = parse("select * from m where value <> 2")
    assert s.condition.expression == ast.NotExpression(
        ast.EqualityExpression("value", ast.AbsoluteComparisonValue(2))
    )
    s2 = parse("select * from m where value != 2")
    assert s2.condition.expression == s.condition.expression


def test_like_with_dollar_wildcard():
    s = parse("select * from people where name like $ohn")
    assert s.condition.expression == ast.LikeExpression("name", "$ohn")
    s2 = parse("select * from people where name like 'start$'")
    assert s2.condition.expression == ast.LikeExpression("name", "start$")


def test_nullable():
    s = parse("select * from m where age is null")
    assert s.condition.expression == ast.NullableExpression("age", negated=False)
    s = parse("select * from m where age is not null")
    assert s.condition.expression == ast.NullableExpression("age", negated=True)


def test_and_or_right_associative():
    # docs/SQL_doc.md:103-112 — a AND b OR c ≡ a AND (b OR c)
    s = parse("select * from m where a = 1 and b = 2 or c = 3")
    e = s.condition.expression
    assert isinstance(e, ast.TupledLogicalExpression) and e.operator == "and"
    inner = e.expression2
    assert isinstance(inner, ast.TupledLogicalExpression) and inner.operator == "or"


def test_brackets_override_associativity():
    s = parse("select * from m where (a = 1 and b = 2) or c = 3")
    e = s.condition.expression
    assert isinstance(e, ast.TupledLogicalExpression) and e.operator == "or"
    assert isinstance(e.expression1, ast.TupledLogicalExpression)
    assert e.expression1.operator == "and"


def test_not_is_greedy_reference_parity():
    """Unparenthesized NOT swallows the entire rest of the condition
    (SQLStatementParser.scala:188 ordered choice + `Not ~> expression`;
    pinned by the reference's own SelectSQLStatementSpec:355)."""
    s = parse("select * from m where not a = 1 and b = 2")
    e = s.condition.expression
    assert isinstance(e, ast.NotExpression)
    inner = e.expression
    assert isinstance(inner, ast.TupledLogicalExpression)
    assert inner.operator == "and"
    # the exact reference spec case, with OR
    s = parse("select name from people where not timestamp >= 2 or timestamp < 4")
    e = s.condition.expression
    assert isinstance(e, ast.NotExpression)
    assert e.expression.operator == "or"
    # bounding NOT's scope takes parentheses, like the reference's
    # SQLStatementBracketsSpec "not applied only to the first expression"
    s = parse("select * from m where (not a = 1) and b = 2")
    e = s.condition.expression
    assert isinstance(e, ast.TupledLogicalExpression) and e.operator == "and"
    assert isinstance(e.expression1, ast.NotExpression)


def test_relative_time():
    s = parse("select * from m where timestamp >= now - 2 h")
    v = s.condition.expression.value
    assert v == ast.RelativeComparisonValue("-", 2, "h")
    assert v.resolve(10_000_000) == 10_000_000 - 2 * 3_600_000
    s2 = parse("select * from m where timestamp < now + 30s")
    assert s2.condition.expression.value == ast.RelativeComparisonValue("+", 30, "s")
    s3 = parse("select * from m where timestamp <= now")
    assert s3.condition.expression.value.resolve(123) == 123


def test_aggregations():
    s = parse("select count(*), sum(value), min(value), max(value), avg(value) from m")
    kinds = [f.aggregation.kind for f in s.fields]
    assert kinds == [ast.AGG_COUNT, ast.AGG_SUM, ast.AGG_MIN, ast.AGG_MAX, ast.AGG_AVG]
    assert s.fields[0].aggregation.target == "value"


def test_count_distinct():
    s = parse("select count(distinct name) from m")
    assert s.fields[0].aggregation == ast.Aggregation(ast.AGG_COUNT_DISTINCT, "name")
    s2 = parse("select count(distinct *) from m")
    assert s2.fields[0].aggregation == ast.Aggregation(ast.AGG_COUNT_DISTINCT, "value")


def test_distinct_only_on_count():
    with pytest.raises(SQLParseError, match="Distinct clause is only applicable"):
        parse("select sum(distinct value) from m")


def test_first_last():
    s = parse("select first(value) from m group by name")
    assert s.fields[0].aggregation.kind == ast.AGG_FIRST
    s = parse("select last(*) from m group by name")
    assert s.fields[0].aggregation == ast.Aggregation(ast.AGG_LAST, "value")


def test_group_by_tag():
    s = parse("select sum(value) from m group by name")
    assert s.group_by == ast.SimpleGroupBy("name")


def test_group_by_interval():
    s = parse("select count(*) from m group by interval 30 s")
    assert s.group_by == ast.TemporalGroupBy(30_000, 30, "s")
    s2 = parse("select count(*) from m group by interval 2d")
    assert s2.group_by == ast.TemporalGroupBy(2 * 86_400_000, 2, "d")
    s3 = parse("select count(*) from m group by interval h")
    assert s3.group_by == ast.TemporalGroupBy(3_600_000, 1, "h")


def test_grace_period():
    s = parse("select count(*) from m group by interval 30s since 2h limit 5")
    assert s.grace_period == ast.GracePeriod(2 * 3_600_000, 2, "h")
    assert s.limit == ast.LimitOperator(5)


def test_mixed_plain_and_aggregation():
    s = parse("select name, count(*) from m")
    assert s.fields[0].aggregation is None
    assert s.fields[1].aggregation.kind == ast.AGG_COUNT


def test_insert():
    s = parse(
        "INSERT INTO people TS = 1522232017 DIM (d1 = 1, d2 = 'my String') TAGS (t1 = x) VAL = 1.5"
    )
    assert isinstance(s, ast.InsertSQLStatement)
    assert s.metric == "people"
    assert s.timestamp == 1522232017
    assert s.dimensions == {"d1": 1, "d2": "my String"}
    assert s.tags == {"t1": "x"}
    assert s.value == 1.5


def test_insert_minimal():
    s = parse("insert into m val = 2")
    assert s.timestamp is None and s.dimensions == {} and s.tags == {}
    assert s.value == 2


def test_delete():
    s = parse("delete from m where timestamp in (2, 4)")
    assert isinstance(s, ast.DeleteSQLStatement)
    assert isinstance(s.condition.expression, ast.RangeExpression)


def test_delete_requires_where():
    with pytest.raises(SQLParseError):
        parse("delete from m")


def test_drop_and_commands():
    assert parse("drop metric m") == ast.DropSQLStatement("m")
    assert isinstance(parse("show metrics"), ast.ShowMetrics)
    assert isinstance(parse("show namespaces"), ast.ShowNamespaces)
    assert parse("use myns") == ast.UseNamespace("myns")
    assert parse("describe m") == ast.DescribeMetric("m")


def test_negative_values():
    s = parse("select * from m where value >= -3.5")
    assert s.condition.expression.value == ast.AbsoluteComparisonValue(-3.5)


def test_case_insensitive_keywords():
    s = parse("SeLeCt * FrOm m WhErE value > 1 OrDeR bY timestamp LiMiT 3")
    assert s.metric == "m" and s.limit.value == 3


def test_parse_error_on_garbage():
    with pytest.raises(SQLParseError):
        parse("selec * from m")
    with pytest.raises(SQLParseError):
        parse("select * from m where")


def test_not_scope_swallows_following_conjunction_reference_parity():
    """Reference parity (SQLStatementParser.scala:187-196 ordered choice:
    notUnaryLogicalExpression is tried FIRST and `Not ~> expression`
    greedily parses the rest): `not (a) and b` is NOT(a AND b), not
    NOT(a) AND b — brackets bound and/or grouping, not NOT's scope."""
    from nsdb_spark.sql import ast
    from nsdb_spark.sql.parser import parse

    stmt = parse("select * from m where not (x = 1) and y = 2")
    e = stmt.condition.expression
    assert isinstance(e, ast.NotExpression)
    inner = e.expression
    assert isinstance(inner, ast.TupledLogicalExpression)
    assert inner.operator == "and"


def test_star_leading_field_list_swallows_rest_reference_parity():
    """Reference quirk: selectFields' `case All => AllFields()` discards
    any fields after a leading * — `select *, a` is `select *`; a star
    AFTER named fields stays a parse error (rep(Comma ~> field) cannot
    match `*`)."""
    import pytest

    from nsdb_spark.sql import ast
    from nsdb_spark.sql.parser import parse
    from nsdb_spark.sql.errors import SQLParseError

    assert isinstance(parse("select *, age from m").fields, ast.AllFields)
    with pytest.raises(SQLParseError):
        parse("select age, * from m")


_BIG = "100000000000000000000"  # 2^66.4: no signed 64-bit long holds it


@pytest.mark.parametrize("sql", [
    f"select * from m where age < {_BIG} limit 100",
    f"select * from m where age = -{_BIG}",
    f"select * from m where age in (1, {_BIG})",
    f"select * from m where timestamp > now - {_BIG} s",
    f"select * from m limit {_BIG}",
    "select * from m where age > 9223372036854775808",
    "select * from m where age > -9223372036854775809",
    f"select count(*) from m group by interval {_BIG} s",
    f"select count(*) from m group by interval 1 s since {_BIG} s",
    f"insert into m ts = {_BIG} val = 1",
    f"insert into m val = {_BIG}",
    f"insert into m tags (age = -{_BIG}) val = 1",
])
def test_integer_literal_outside_64_bits_is_a_parse_error(sql):
    """The reference reads every integer literal with toLong: one outside
    the signed 64-bit range is not a valid statement, wherever it is
    (comparison values, LIMIT, INSERT timestamp, value and fields,
    relative and interval quantities)."""
    with pytest.raises(SQLParseError, match="64-bit"):
        parse(sql)


def test_integer_literal_at_the_64_bit_bounds_parses():
    s = parse("select * from m where age > -9223372036854775808 limit 9223372036854775807")
    assert s.condition.expression.value == ast.AbsoluteComparisonValue(-(1 << 63))
    assert s.limit == ast.LimitOperator((1 << 63) - 1)
    ins = parse("insert into m ts = 9223372036854775807 val = -9223372036854775808")
    assert (ins.timestamp, ins.value) == ((1 << 63) - 1, -(1 << 63))
    # a decimal literal is a double, not bound to 64 bits
    assert parse(f"select * from m where h < {_BIG}.5").condition.expression.value == (
        ast.AbsoluteComparisonValue(float(f"{_BIG}.5"))
    )
