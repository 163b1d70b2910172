"""Semantics tests for the reference-parity validation core.

Every expectation below is hand-derived from the reference's inline keyword
tests (e.g. /root/reference/src/json_schema/keywords/maxmin.rs:43-177,
keywords/type_.rs:78-334, keywords/of.rs:95-196) and validator sources.
No Spark needed — this is the pure-Python semantics oracle.
"""

import pytest

from valico_spark.compiler.pyvalidator import (
    DRAFT2019, DRAFT7, SchemaError, Scope, load_document, validate_json,
)


def valid(schema, data, version=DRAFT7):
    return validate_json(schema, data, version=version).is_valid()


def errors(schema, data, version=DRAFT7):
    return validate_json(schema, data, version=version).errors


class TestType:
    def test_integer_accepts_whole_floats(self):
        # validators/type_.rs:23-27
        assert valid({"type": "integer"}, 1)
        assert valid({"type": "integer"}, 1.0)
        assert not valid({"type": "integer"}, 1.5)
        assert not valid({"type": "integer"}, True)  # bool is not integer

    def test_single_wrong_type_detail(self):
        (e,) = errors({"type": "string"}, 42)
        assert e.code == "wrong_type"
        assert e.title == "Type of the value is wrong"
        assert e.detail == "The value must be string"
        assert e.path == ""

    def test_type_set(self):
        sch = {"type": ["string", "null"]}
        assert valid(sch, "x") and valid(sch, None)
        (e,) = errors(sch, 5)
        assert e.detail == "The value must be any of: string, null"

    def test_number_vs_boolean(self):
        assert not valid({"type": "number"}, True)
        assert valid({"type": "boolean"}, False)


class TestNumericBounds:
    def test_minimum_maximum(self):
        # validators/maxmin.rs — inclusive
        assert valid({"minimum": 5}, 5)
        assert not valid({"minimum": 5}, 4.999)
        assert valid({"maximum": 5}, 5)
        assert not valid({"maximum": 5}, 5.001)

    def test_exclusive_report_plain_codes(self):
        # maxmin.rs:49-52,99-102 — exclusive* reports maximum/minimum codes
        (e,) = errors({"exclusiveMaximum": 5}, 5)
        assert e.code == "maximum"
        (e,) = errors({"exclusiveMinimum": 5}, 5)
        assert e.code == "minimum"

    def test_non_numbers_skipped(self):
        # nonstrict_process: wrong type silently passes
        assert valid({"minimum": 5}, "abc")
        assert valid({"maximum": 5}, None)


class TestMultipleOf:
    def test_integral(self):
        assert valid({"multipleOf": 2}, 4)
        assert not valid({"multipleOf": 2}, 5)

    def test_float_epsilon(self):
        # validators/multiple_of.rs:22-33. Note the reference quirk: the
        # float branch accepts only remainder < EPSILON, so divisions that
        # land just *below* a whole number (19.99/0.01 = 1998.99999…) are
        # REJECTED even though mathematically exact. We reproduce that.
        assert valid({"multipleOf": 3.5}, 7)       # keywords/multiple_of.rs:54
        assert not valid({"multipleOf": 3.5}, 6)
        assert valid({"multipleOf": 0.5}, 1.5)
        assert not valid({"multipleOf": 0.01}, 19.99)  # quirk preserved
        assert not valid({"multipleOf": 0.03}, 19.99)

    def test_compile_rejects_nonpositive(self):
        with pytest.raises(SchemaError):
            validate_json({"multipleOf": 0}, 1)


class TestStrings:
    def test_length_counts_code_points(self):
        # maxmin_length.rs:21,46 — chars().count()
        assert valid({"minLength": 2, "maxLength": 2}, "ab")
        assert valid({"minLength": 2, "maxLength": 2}, "é€")  # multibyte
        assert not valid({"maxLength": 1}, "ab")
        (e,) = errors({"minLength": 3}, "ab")
        assert e.code == "min_length"

    def test_pattern_unanchored(self):
        # pattern.rs:21 — substring search
        assert valid({"pattern": "b+"}, "abc")
        assert not valid({"pattern": "^b+$"}, "abc")
        (e,) = errors({"pattern": "z"}, "abc")
        assert e.code == "pattern" and e.title == "Pattern condition is not met"


class TestEnumConst:
    def test_enum_numeric_tolerant_top_level(self):
        # helpers.rs:137-145
        assert valid({"enum": [1, 2]}, 1.0)
        assert valid({"enum": ["a"]}, "a")
        assert not valid({"enum": ["a"]}, "b")

    def test_enum_nested_strict(self):
        # nested numbers compare as serde Values: 1 != 1.0
        assert valid({"enum": [[1]]}, [1])
        assert not valid({"enum": [[1]]}, [1.0])

    def test_const(self):
        assert valid({"const": 3}, 3.0)
        (e,) = errors({"const": {"a": 1}}, {"a": 2})
        assert e.code == "const"

    def test_enum_empty_is_compile_error(self):
        with pytest.raises(SchemaError):
            validate_json({"enum": []}, 1)


class TestObjects:
    def test_required_path_per_key(self):
        # validators/required.rs:25 — one error per key, path = /{key}
        errs = errors({"required": ["a", "b"]}, {"a": 1})
        assert len(errs) == 1
        assert errs[0].code == "required" and errs[0].path == "/b"
        assert errs[0].title == "This property is required"

    def test_properties_nested_path(self):
        sch = {"properties": {"a": {"properties": {"b": {"type": "string"}}}}}
        (e,) = errors(sch, {"a": {"b": 1}})
        assert e.path == "/a/b" and e.code == "wrong_type"

    def test_additional_properties_false(self):
        # properties.rs:104 — error at object path with detail naming the key
        sch = {"properties": {"a": {}}, "additionalProperties": False}
        (e,) = errors(sch, {"a": 1, "x": 2})
        assert e.code == "properties"
        assert e.detail == "Additional property 'x' is not allowed"
        assert e.path == ""

    def test_pattern_properties(self):
        sch = {"patternProperties": {"^s_": {"type": "string"}}}
        assert valid(sch, {"s_a": "x", "other": 1})
        (e,) = errors(sch, {"s_a": 1})
        assert e.path == "/s_a"

    def test_property_names_path_brackets(self):
        # property_names.rs:25 — path = /[{key}]
        sch = {"propertyNames": {"maxLength": 1}}
        (e,) = errors(sch, {"ab": 1})
        assert e.path == "/[ab]" and e.code == "max_length"

    def test_max_min_properties(self):
        assert not valid({"maxProperties": 1}, {"a": 1, "b": 2})
        assert not valid({"minProperties": 2}, {"a": 1})

    def test_dependencies_property_kind(self):
        sch = {"dependencies": {"a": ["b"]}}
        assert valid(sch, {"x": 1})
        (e,) = errors(sch, {"a": 1})
        assert e.code == "required" and e.path == "/b"

    def test_dependencies_schema_kind(self):
        sch = {"dependencies": {"a": {"required": ["c"]}}}
        (e,) = errors(sch, {"a": 1})
        assert e.path == "/c"

    def test_dependent_required_2019(self):
        sch = {"dependentRequired": {"a": ["b"]}}
        assert not valid(sch, {"a": 1}, version=DRAFT2019)
        assert valid(sch, {"a": 1, "b": 2}, version=DRAFT2019)


class TestArrays:
    def test_items_single_schema_paths(self):
        sch = {"items": {"type": "integer"}}
        errs = errors(sch, [1, "x", 3, "y"])
        assert sorted(e.path for e in errs) == ["/1", "/3"]

    def test_items_positional_and_additional_false(self):
        sch = {"items": [{"type": "integer"}, {"type": "string"}],
               "additionalItems": False}
        assert valid(sch, [1, "a"])
        (e,) = errors(sch, [1, "a", 2])
        assert e.code == "items"
        assert e.detail == "Additional items are not allowed"
        assert e.path == ""

    def test_additional_items_schema(self):
        sch = {"items": [{}], "additionalItems": {"type": "integer"}}
        (e,) = errors(sch, ["x", "y"])
        assert e.path == "/1"

    def test_max_min_items(self):
        assert not valid({"maxItems": 1}, [1, 2])
        assert not valid({"minItems": 2}, [1])

    def test_unique_items_strict_number_identity(self):
        assert not valid({"uniqueItems": True}, [1, 1])
        # serde equality: 1 (int) != 1.0 (float) as Values
        assert valid({"uniqueItems": True}, [1, 1.0])
        assert not valid({"uniqueItems": True}, [{"a": 1}, {"a": 1}])

    def test_contains(self):
        sch = {"contains": {"type": "integer"}}
        assert valid(sch, ["a", 2])
        (e,) = errors(sch, ["a", "b"])
        assert e.code == "contains"

    def test_min_max_contains_2019(self):
        sch = {"contains": {"type": "integer"}, "minContains": 2}
        (e,) = errors(sch, [1, "x"], version=DRAFT2019)
        assert e.code == "min_contains/max_contains"
        # minContains: 0 suppresses the contains error (contains.rs:44)
        sch0 = {"contains": {"type": "integer"}, "minContains": 0}
        assert valid(sch0, ["x"], version=DRAFT2019)


class TestCombinators:
    def test_all_any_one(self):
        assert valid({"allOf": [{"minimum": 1}, {"maximum": 3}]}, 2)
        assert not valid({"allOf": [{"minimum": 1}, {"maximum": 3}]}, 4)
        assert valid({"anyOf": [{"type": "string"}, {"type": "integer"}]}, 5)
        (e,) = errors({"anyOf": [{"type": "string"}]}, 5)
        assert e.code == "any_of" and e.states is not None
        assert not valid({"oneOf": [{"minimum": 1}, {"maximum": 3}]}, 2)
        assert valid({"oneOf": [{"minimum": 3}, {"maximum": 1}]}, 4)
        (e,) = errors({"oneOf": [{"minimum": 1}, {"maximum": 3}]}, 2)
        assert e.code == "one_of"

    def test_not(self):
        assert valid({"not": {"type": "string"}}, 5)
        (e,) = errors({"not": {"type": "string"}}, "x")
        assert e.code == "not"

    def test_boolean_schemas(self):
        assert valid(True, {"anything": 1})
        assert not valid(False, 1)
        assert valid({"properties": {"a": False}}, {})
        assert not valid({"properties": {"a": False}}, {"a": 1})

    def test_if_then_else(self):
        sch = {"if": {"type": "integer"}, "then": {"minimum": 5},
               "else": {"maxLength": 2}}
        assert valid(sch, 6)
        assert not valid(sch, 3)
        assert valid(sch, "ab")
        assert not valid(sch, "abc")


class TestRef:
    def test_internal_pointer_ref(self):
        sch = {"properties": {"a": {"$ref": "#/definitions/pos"}},
               "definitions": {"pos": {"minimum": 0}}}
        assert valid(sch, {"a": 1})
        (e,) = errors(sch, {"a": -1})
        assert e.code == "minimum" and e.path == "/a"

    def test_ref_exclusive_draft7(self):
        # schema.rs:344-362 — $ref wipes sibling validators pre-2019-09
        sch = {"properties": {"a": {"$ref": "#/definitions/any",
                                    "minimum": 100}},
               "definitions": {"any": {}}}
        assert valid(sch, {"a": 1})

    def test_ref_siblings_active_2019(self):
        sch = {"properties": {"a": {"$ref": "#/definitions/any",
                                    "minimum": 100}},
               "definitions": {"any": {}}}
        assert not valid(sch, {"a": 1}, version=DRAFT2019)

    def test_recursive_ref(self):
        sch = {"properties": {"child": {"$ref": "#"}},
               "required": ["name"],
               "properties_": None}
        sch.pop("properties_")
        sch["properties"]["name"] = {"type": "string"}
        assert valid(sch, {"name": "a", "child": {"name": "b"}})
        errs = errors(sch, {"name": "a", "child": {}})
        assert [e.path for e in errs] == ["/child/name"]

    def test_missing_ref_recorded(self):
        st = validate_json({"$ref": "http://nowhere.invalid/schema"}, 1)
        assert st.is_valid() and not st.is_strictly_valid()
        assert st.missing


class TestUnevaluated:
    def test_unevaluated_properties_false(self):
        sch = {"properties": {"a": {}}, "unevaluatedProperties": False}
        assert valid(sch, {"a": 1}, version=DRAFT2019)
        (e,) = errors(sch, {"a": 1, "b": 2}, version=DRAFT2019)
        assert e.code == "unevaluated" and e.path == "/b"
        assert e.detail == "Unevaluated properties are not allowed"

    def test_unevaluated_sees_allof_branch(self):
        sch = {"allOf": [{"properties": {"a": {}}}],
               "unevaluatedProperties": False}
        assert valid(sch, {"a": 1}, version=DRAFT2019)

    def test_unevaluated_items(self):
        sch = {"items": [{}], "unevaluatedItems": False}
        (e,) = errors(sch, [1, 2], version=DRAFT2019)
        assert e.path == "/1"
        assert e.detail == "Unevaluated items are not allowed"

    def test_ignored_in_draft7(self):
        sch = {"properties": {"a": {}}, "unevaluatedProperties": False}
        assert valid(sch, {"a": 1, "b": 2}, version=DRAFT7)


class TestFormats:
    def test_known_formats(self):
        assert valid({"format": "date"}, "2024-02-29")
        assert not valid({"format": "date"}, "2023-02-29")
        assert not valid({"format": "date"}, "2023-1-05")  # len != 10
        assert valid({"format": "date-time"}, "2024-01-01T10:00:00Z")
        assert not valid({"format": "date-time"}, "2024-01-01T10:00:00")
        # time quirk: timezone not supported (formats.rs:286-307)
        assert valid({"format": "time"}, "10:05:08.5")
        assert not valid({"format": "time"}, "10:05:08+01:00")
        assert valid({"format": "ipv4"}, "192.168.0.1")
        assert not valid({"format": "ipv4"}, "192.168.0.256")
        assert valid({"format": "ipv6"}, "::1")
        assert valid({"format": "uuid"},
                     "550e8400-e29b-41d4-a716-446655440000")
        assert valid({"format": "uuid"}, "550e8400e29b41d4a716446655440000")
        assert not valid({"format": "uuid"}, "not-a-uuid")
        assert valid({"format": "uri"}, "http://example.com/a?b=1")
        assert not valid({"format": "uri"}, "/relative/path")
        assert valid({"format": "uri-template"}, "literally anything {x}")
        assert valid({"format": "json-pointer"}, "/a/~0b/~1c")
        assert not valid({"format": "json-pointer"}, "a/b")

    def test_unknown_format_ignored(self):
        # keywords/format.rs:172-175
        assert valid({"format": "no-such-format"}, "anything")

    def test_format_skips_non_strings(self):
        assert valid({"format": "date"}, 42)

    def test_format_error_shape(self):
        (e,) = errors({"format": "date"}, "nope")
        assert e.code == "format" and e.title == "Format is wrong"
        assert e.detail == "Malformed date"


class TestContentMedia:
    def test_base64_decode(self):
        sch = {"contentEncoding": "base64"}
        assert valid(sch, "aGVsbG8=")
        (e,) = errors(sch, "not*base64")
        assert e.code == "format"

    def test_base64_then_json(self):
        import base64
        sch = {"contentEncoding": "base64",
               "contentMediaType": "application/json"}
        good = base64.b64encode(b'{"a": 1}').decode()
        bad = base64.b64encode(b'{oops').decode()
        assert valid(sch, good)
        assert not valid(sch, bad)

    def test_media_type_plain(self):
        sch = {"contentMediaType": "application/json"}
        assert valid(sch, '{"a": [1, 2]}')
        assert not valid(sch, "{")


class TestDefaults:
    def test_supply_defaults_properties(self):
        # scope.rs:52-122 + validators/properties.rs:33-43
        sch = {"properties": {"a": {"default": 42}}, "required": ["a"]}
        st = validate_json(sch, {}, supply_defaults=True)
        assert st.is_valid()
        assert st.replacement == {"a": 42}

    def test_no_defaults_without_optin(self):
        sch = {"properties": {"a": {"default": 42}}, "required": ["a"]}
        st = validate_json(sch, {})
        assert not st.is_valid()

    def test_default_via_ref(self):
        sch = {"properties": {"y": {"$ref": "#/definitions/a"}},
               "definitions": {"a": {"default": 42}},
               "required": ["y"]}
        st = validate_json(sch, {}, supply_defaults=True)
        assert st.is_valid()
        assert st.replacement == {"y": 42}


class TestGate:
    """``Scope.gate``: passes ⇒ no error; ``covers`` ⇒ also the converse."""

    @staticmethod
    def gate(schema, version=DRAFT7, supply_defaults=False):
        scope = Scope(version=version, supply_defaults=supply_defaults)
        sid = scope.compile(schema)
        passes, covers = scope.gate(sid)
        return scope, sid, passes, covers

    @pytest.mark.parametrize("schema,version,covers", [
        ({"type": "integer", "minimum": 0}, DRAFT7, True),
        ({"not": {"type": "integer"}}, DRAFT7, True),
        ({"oneOf": [{"type": "integer"}, {"minimum": 2}]}, DRAFT7, True),
        ({"if": {"type": "string"}, "then": {"minLength": 2}}, DRAFT7, True),
        ({"properties": {"n": {"$ref": "#"}}, "required": ["v"]}, DRAFT7,
         True),
        ({"contains": {"type": "integer"}, "maxContains": 1}, DRAFT2019,
         True),
        ({"contentEncoding": "base64"}, DRAFT7, False),
        ({"unevaluatedProperties": False}, DRAFT2019, False),
        # an inexact branch makes every schema reading it inexact
        ({"not": {"contentMediaType": "application/json"}}, DRAFT7, False),
        ({"properties": {"a": {"$ref": "#/definitions/c"}},
          "definitions": {"c": {"contentEncoding": "base64"}}}, DRAFT7,
         False),
    ])
    def test_coverage(self, schema, version, covers):
        assert self.gate(schema, version)[3] is covers

    @pytest.mark.parametrize("schema,docs", [
        ({"not": {"contentMediaType": "application/json"}},
         ["{", '{"a": 1}', 5]),
        ({"oneOf": [{"contentEncoding": "base64"}, {"type": "string"}]},
         ["aGk=", "*", 3]),
        ({"anyOf": [{"type": "integer"}, {"contentEncoding": "base64"}]},
         [1, "aGk=", "*", 2.5]),
        ({"contains": {"contentEncoding": "base64"}, "maxContains": 1},
         [["*"], ["aGk=", "aGk="], [1]]),
    ])
    def test_inexact_gate_is_sound(self, schema, docs):
        scope, sid, passes, covers = self.gate(schema, DRAFT2019)
        assert not covers
        for doc in docs:
            if passes(doc):
                assert scope.validate(sid, doc).is_valid(), doc

    def test_exact_gate_on_recursion(self):
        schema = {"type": "object", "required": ["v"],
                  "properties": {"v": {"type": "integer", "minimum": 0},
                                 "next": {"$ref": "#"}}}
        scope, sid, passes, covers = self.gate(schema)
        assert covers
        doc = {"v": 0}
        for i in range(1, 100):  # deeper than the VARIANT unroll budget
            doc = {"v": i, "next": doc}
        for d in (doc, {"v": 1, "next": {"v": -1}}, {"next": {}}, []):
            assert passes(d) is scope.validate(sid, d).is_valid(), d

    def test_supply_defaults_passes_nothing(self):
        schema = {"properties": {"a": {"default": 42}}, "required": ["a"]}
        scope, sid, passes, covers = self.gate(schema, supply_defaults=True)
        assert not covers and not passes({})
        assert scope.validate(sid, {}).is_valid()

    def test_a_new_schema_rebinds(self):
        scope = Scope()
        sid = scope.compile({"$ref": "http://x.y/s#"})
        assert scope.gate(sid)[0](5)  # a missing $ref is no error
        scope.compile({"$id": "http://x.y/s", "type": "string"})
        assert not scope.gate(sid)[0](5)
        assert not scope.validate(sid, 5).is_valid()


def test_load_document_null_contract():
    for doc in (None, "", "{", '{"a": 1', "NaN", "[Infinity]",
                '{"a": -Infinity}', "1 2"):
        assert load_document(doc) is None, doc
    assert load_document('{"a": 1, "a": 2}') == {"a": 2}  # last wins
    assert load_document("1e400") == float("inf")


class TestStateShape:
    def test_serialized_error_shape(self):
        st = validate_json({"type": "string"}, 1)
        d = st.serialize()
        assert d["errors"] == [{
            "code": "wrong_type",
            "title": "Type of the value is wrong",
            "path": "",
            "detail": "The value must be integer"
        }] or d["errors"][0]["code"] == "wrong_type"

    def test_multiple_errors_accumulate(self):
        sch = {"properties": {"a": {"type": "integer"},
                              "b": {"minimum": 5}},
               "required": ["c"]}
        errs = errors(sch, {"a": "x", "b": 3})
        assert sorted(e.code for e in errs) == ["minimum", "required",
                                                "wrong_type"]
