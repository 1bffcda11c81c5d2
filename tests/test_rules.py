"""Rule/ruleset construction, composition, YAML round-trip — mirrors
test-rule.R, test-ruleset_construction.R, test-im-export.R, test-features-v1.R."""

import pytest

from dataverifyr_spark import (
    bind_rules,
    data_column,
    read_rules,
    reference_rule,
    rule,
    ruleset,
    unique_rule,
    write_rules,
)
from dataverifyr_spark.rules import Ruleset


class TestRule:
    def test_default_name_from_symbols(self):
        # R/rule.R:50-53
        r = rule("mpg > 10 & cyl < 9")
        assert r.name == "Rule for: mpg, cyl"

    def test_explicit_name_and_flags(self):
        r = rule("x > 0", name="positive", allow_na=True, negate=True, owner="qa")
        assert r.name == "positive"
        assert r.allow_na and r.negate
        assert r.extra == {"owner": "qa"}

    def test_empty_expr_rejected(self):
        with pytest.raises(ValueError):
            rule("")


class TestRulesetComposition:
    def test_index_stamping(self):
        rs = ruleset(rule("a > 1"), rule("b > 2"))
        assert [r.index for r in rs] == [1, 2]

    def test_plus_dedupes_and_reindexes(self):
        # R/ruleset_construction.R:9-40
        a = ruleset(rule("x > 1"), rule("y > 2"))
        b = ruleset(rule("y > 2"), rule("z > 3"))
        merged = a + b
        assert [r.expr for r in merged] == ["x > 1", "y > 2", "z > 3"]
        assert [r.index for r in merged] == [1, 2, 3]

    def test_plus_rule(self):
        rs = ruleset(rule("x > 1")) + rule("y > 2")
        assert len(rs) == 2

    def test_rule_plus_rule_forms_ruleset(self):
        # tests/test-ruleset_construction.R:1-8
        r1, r2 = rule("mpg > 10"), rule("hp > 10")
        rs = r1 + r2
        assert isinstance(rs, Ruleset)
        assert [r.expr for r in rs] == ["mpg > 10", "hp > 10"]
        assert [r.index for r in rs] == [1, 2]

    def test_rule_plus_ruleset(self):
        # tests/test-ruleset_construction.R:10-19
        r1, r2, r3 = rule("mpg > 10"), rule("hp > 10"), rule("name == 'henry'")
        assert [r.expr for r in r1 + ruleset(r2, r3)] == [r.expr for r in ruleset(r1, r2, r3)]

    def test_chained_adds_dedupe(self):
        # tests/test-ruleset_construction.R:44-56
        r1, r2 = rule("mpg > 10"), rule("hp > 10")
        assert len(ruleset(r1, r2) + ruleset(r1, r2)) == 2
        assert len(r1 + r2 + ruleset(r1, r2) + ruleset(r1, r2)) == 2

    def test_bind_rules(self):
        rs = bind_rules([rule("a > 1"), ruleset(rule("b > 2")), rule("a > 1")])
        assert [r.expr for r in rs] == ["a > 1", "b > 2"]

    def test_duplicate_with_different_flags_kept(self):
        rs = ruleset(rule("x > 1"), rule("x > 1", negate=True))
        assert len(rs) == 2


class TestDataColumn:
    def test_validation(self):
        with pytest.raises(ValueError):
            data_column("")
        with pytest.raises(ValueError):
            data_column("a", optional="yes")  # type: ignore[arg-type]

    def test_duplicate_declarations_rejected(self):
        with pytest.raises(ValueError, match="duplicate"):
            ruleset(rule("a > 1"), data_columns=[data_column("a"), data_column("a")])


class TestReferenceRule:
    def test_synthesized_expr_and_name(self):
        # R/data_column.R:149-185
        r = reference_rule("carrier", "carriers", "carrier_id")
        assert r.expr == "carrier %in% carriers$carrier_id"
        assert r.name == "Reference rule: carrier in carriers$carrier_id"
        assert r.check_type == "reference_rule"

    def test_arg_validation(self):
        with pytest.raises(ValueError):
            reference_rule("", "d", "c")


class TestYaml(object):
    def test_v1_round_trip(self, tmp_path):
        rs = ruleset(
            rule("mpg > 10", name="mpg pos", allow_na=True),
            rule("cyl %in% c(4, 6, 8)"),
            reference_rule("carrier", "carriers", "carrier_id", negate=True),
            data_columns=[data_column("mpg", "double"), data_column("cyl", "int", optional=True)],
            meta={"title": "demo", "version": "1"},
        )
        p = str(tmp_path / "rules.yaml")
        write_rules(rs, p, format="v1")
        back = read_rules(p)
        assert [r.expr for r in back] == [r.expr for r in rs]
        assert [r.allow_na for r in back] == [r.allow_na for r in rs]
        assert [r.negate for r in back] == [r.negate for r in rs]
        assert back[2].check_type == "reference_rule"
        assert back[2].ref_dataset == "carriers"
        assert [c.col for c in back.data_columns] == ["mpg", "cyl"]
        assert back.meta["title"] == "demo"

    def test_pre_v1_round_trip(self, tmp_path):
        rs = ruleset(rule("x > 1"), rule("y < 2", negate=True))
        p = str(tmp_path / "rules.yml")
        write_rules(rs, p, format="pre_v1")
        back = read_rules(p)
        assert [r.expr for r in back] == ["x > 1", "y < 2"]

    def test_multiline_expr_rejoined(self, tmp_path):
        # R/im-export.R:62,:98
        p = tmp_path / "r.yaml"
        p.write_text("data-rules:\n- name: r\n  expr: |\n    x > 1 &\n    y < 2\n")
        back = read_rules(str(p))
        assert back[0].expr == "x > 1 & y < 2"

    def test_malformed_v1_errors(self, tmp_path):
        # sections present but no data-rules (R/im-export.R:70-73)
        p = tmp_path / "bad.yaml"
        p.write_text("meta:\n  title: x\n")
        with pytest.raises(ValueError, match="data-rules"):
            read_rules(str(p))

    def test_single_flat_rule_unwrapped(self, tmp_path):
        p = tmp_path / "one.yaml"
        p.write_text("name: r1\nexpr: x > 1\n")
        back = read_rules(str(p))
        assert isinstance(back, Ruleset) and len(back) == 1

    def test_bad_extension_rejected(self, tmp_path):
        with pytest.raises(ValueError, match=".yml"):
            write_rules(ruleset(rule("x > 1")), str(tmp_path / "rules.json"))


_FIXTURES = __import__("os").path.join(__import__("os").path.dirname(__file__), "fixtures")


class TestRYamlFixtures:
    """Byte-exact compatibility with the R package's yaml::write_yaml output.

    The fixture files are verbatim copies of the expected bytes pinned in the
    reference's own tests (tests/testthat/test-im-export.R:9-26,:42-58,
    :73-86,:99-108) — files a real R user's pipeline would produce."""

    def _fx(self, name):
        import os

        return os.path.join(_FIXTURES, name)

    def test_read_r_emitted_v1(self):
        back = read_rules(self._fx("r_v1_basic.yml"))
        assert [r.expr for r in back] == ["mpg > 10", "cyl %in% c(4, 6, 8)"]
        assert [r.name for r in back] == ["Rule for: mpg", "Rule for: cyl"]
        assert all(not r.allow_na and not r.negate for r in back)
        assert back.data_columns == [] and back.meta == {}

    def test_read_r_emitted_extra_keys(self):
        back = read_rules(self._fx("r_v1_extra_keys.yml"))
        assert back[0].extra == {"author": "me"}
        # R quotes '2020-02-29' so it reads back as a STRING, not a date
        assert back[1].extra == {"date": "2020-02-29"}

    def test_read_r_emitted_pre_v1(self):
        back = read_rules(self._fx("r_pre_v1.yml"))
        assert len(back) == 1 and back[0].expr == "mpg > 10"

    def test_write_matches_r_bytes_v1(self, tmp_path):
        rs = ruleset(rule("mpg > 10"), rule("cyl %in% c(4, 6, 8)"))
        p = str(tmp_path / "out.yml")
        write_rules(rs, p)
        assert open(p).read() == open(self._fx("r_v1_basic.yml")).read()

    def test_write_matches_r_bytes_extra_keys(self, tmp_path):
        rs = ruleset(rule("mpg > 10", author="me"), rule("cyl %in% c(4, 6, 8)", date="2020-02-29"))
        p = str(tmp_path / "out.yml")
        write_rules(rs, p)
        assert open(p).read() == open(self._fx("r_v1_extra_keys.yml")).read()

    def test_write_matches_r_bytes_single_rule(self, tmp_path):
        p = str(tmp_path / "out.yml")
        write_rules(rule("mpg > 10"), p)
        assert open(p).read() == open(self._fx("r_v1_single.yml")).read()

    def test_write_matches_r_bytes_pre_v1(self, tmp_path):
        p = str(tmp_path / "out.yml")
        write_rules(ruleset(rule("mpg > 10")), p, format="pre_v1")
        assert open(p).read() == open(self._fx("r_pre_v1.yml")).read()

    def test_r_bytes_round_trip(self, tmp_path):
        # read the R file, write it back out: bytes must survive unchanged
        for fx in ("r_v1_basic.yml", "r_v1_extra_keys.yml", "r_v1_single.yml"):
            back = read_rules(self._fx(fx))
            p = str(tmp_path / fx)
            write_rules(back, p)
            assert open(p).read() == open(self._fx(fx)).read(), fx


class TestPrintFormats:
    """Byte-pinned against the reference's print tests
    (tests/testthat/test-rule.R:37-82)."""

    def test_rule_repr(self):
        r = rule("mpg > 10", name="mpg rule", allow_na=True, negate=True, author="qa")
        assert repr(r) == (
            "<Verification Rule>\n"
            "  expr: 'mpg > 10'\n"
            "  name: 'mpg rule'\n"
            "  allow NA: TRUE\n"
            "  negated:  TRUE\n"
            "  author: 'qa'"
        )

    def test_reference_rule_repr_has_fk_fields(self):
        out = repr(reference_rule("carrier", "carriers", "carrier_id"))
        assert out.startswith("<Verification Rule>")
        assert "  local_col: 'carrier'" in out
        assert "  ref_dataset: 'carriers'" in out

    def test_ruleset_show_truncation(self):
        rs = ruleset(
            rule("mpg > 10", name="mpg"),
            rule("cyl %in% c(4, 6, 8)", name="cyl", allow_na=True),
            rule("qsec > 14", name="qsec", negate=True),
            rule("hp < 300", name="hp"),
        )
        short = rs.show(3)
        assert short.splitlines()[0] == "<Verification Ruleset with 4 elements>"
        assert "  [1] 'mpg' matching `mpg > 10` (allow_na: FALSE)" in short
        assert "  [2] 'cyl' matching `cyl %in% c(4, 6, 8)` (allow_na: TRUE)" in short
        assert "  [3] 'qsec' matching `qsec > 14` (allow_na: FALSE, negated)" in short
        assert "  ... +1 more. Use print(ruleset, n = 10) to print more." in short
        long = rs.show(10)
        assert "  [4] 'hp' matching `hp < 300` (allow_na: FALSE)" in long
        assert "+1 more" not in long


class TestCommaUniqueCols:
    def test_write_rules_rejects_comma_column(self, tmp_path):
        rs = ruleset(unique_rule("a,b", name="bad"))
        with pytest.raises(ValueError, match="comma-joined"):
            write_rules(rs, str(tmp_path / "r.yaml"))
