"""The reference's TestTql battery (mods/tql/tql_test.go:922-1829) plus the
simplex-driven TestHistogram/TestBoxplot clusters (task_test.go:242-461),
run VERBATIM through the text front-end.

Expected outputs are transcribed from the Go test tables unchanged.  The
two harnesses differ on trailing newlines and both are modeled exactly:

- tql_test.go runTestCase compares the raw task output against
  ``strings.Join(expect, "\\n")`` — the live CSV/NDJSON output ends with
  the per-row newline PLUS the Exporter.Close newline (csv_encode.go:127),
  which the expect lists encode as a final "\\n" element (and goldens via
  loadLines' appended "\\n").
- task_test.go runTest splits on "\\n" and drops ONE trailing empty, so
  its expect lists end with "" and the comparison is
  ``out == join(expect) + "\\n"``.
"""

import os

import pytest

from neo_server_spark.tql.script import run_script

GOLDEN_DIR = "/root/reference/mods/tql/test"

needs_goldens = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR), reason="reference goldens not available")


def loadlines(name):
    """tql_test.go loadLines: file lines + a final "\\n" element for .csv."""
    with open(os.path.join(GOLDEN_DIR, name)) as f:
        return f.read().splitlines() + ["\n"]


class Golden(str):
    """Name of a GOLDEN_DIR file holding a case's expect lines; the test
    reads it through loadlines when it runs."""


PAY5 = "\n".join([
    "NAME,TIME,VALUE,BOOL",
    "wave.sin,1676432361,0.000000,true",
    "wave.cos,1676432361,1.0000000,false",
    "wave.sin,1676432362,0.406736,true",
    "wave.cos,1676432362,0.913546,false",
    "wave.sin,1676432363,0.743144,true"]) + "\n"

PAYM = "\n".join([
    "NAME,TIME,VALUE",
    "wave.sin,1676432361,0.000000",
    "wave.cos,1676432361,1.000000",
    "wave.sin,1676432362,0.406736",
    "wave.cos,1676432362,0.913546",
    "wave.sin,1676432363,0.743144"])

PAYNH = "\n".join([
    "wave.sin,1676432361,0.000000",
    "wave.cos,1676432361,1.000000",
    "wave.sin,1676432362,0.406736",
    "wave.cos,1676432362,0.913546",
    "wave.sin,1676432363,0.743144"])

MD5 = ["|wave.sin|1676432361|0.000000|",
       "|wave.cos|1676432361|1.000000|",
       "|wave.sin|1676432362|0.406736|",
       "|wave.cos|1676432362|0.913546|",
       "|wave.sin|1676432363|0.743144|",
       ""]

FJ = """FAKE(json({
    ["A", 1.0], ["A", 2.0],
    ["B", 3.0], ["B", 4.0], ["B", 5.0],
    ["C", 6.0], ["C", 7.0],
    ["D", 8.0], ["D", 9.0]
}))"""

# (name, script, expect-lines, payload) — tql_test.go runTestCase model
TQL_CASES = [
    ("CSV_payload_CSV_timeformat_precision", """
CSV(payload(), field(0, timeType("s"), "time"), field(2, floatType(), "value"), field(3, boolType(),"flag") )
CSV(timeformat("s"), heading(true), precision(2))
""",
     ["time,column1,value,flag",
      "1700256261,dry,1.00,true",
      "1700256262,dry,2.00,false",
      "1700256262,wet,2.00,true",
      "1700256263,dry,3.00,false",
      "1700256264,dry,4.00,true",
      "1700256264,wet,5.00,false",
      "\n"],
     "1700256261,dry,1,true\n1700256262,dry,2,false\n1700256262,wet,2,TRUE\n"
     "1700256263,dry,3,False\n1700256264,dry,4,1\n1700256264,wet,5,0\n"),
    ("CSV_payload_MAPVALUE_MARKDOWN", """
CSV(payload(), header(false))
MAPVALUE(2, value(2) != "VALUE" ? parseFloat(value(2))*10 : value(2))
MARKDOWN()
""",
     ["|column0|column1|column2|column3|",
      "|:-----|:-----|:-----|:-----|",
      "|NAME|TIME|VALUE|BOOL|",
      "|wave.sin|1676432361|0.000000|true|",
      "|wave.cos|1676432361|10.000000|false|",
      "|wave.sin|1676432362|4.067360|true|",
      "|wave.cos|1676432362|9.135460|false|",
      "|wave.sin|1676432363|7.431440|true|",
      ""],
     PAY5),
    ("CSV_MARKDOWN", """
CSV(payload(), header(true))
MARKDOWN()
""",
     ["|NAME|TIME|VALUE|", "|:-----|:-----|:-----|", *MD5], PAYM),
    ("CSV_payload_MARKDOWN", """
CSV(payload(), header(true))
MARKDOWN()
""",
     ["|NAME|TIME|VALUE|", "|:-----|:-----|:-----|", *MD5], PAYM + "\n\n"),
    ("CSV_header_true_MARKDOWN", """
CSV(payload(),
field(0, stringType(), 'name'),
field(1, datetimeType('s'), 'time'),
field(2, doubleType(), 'value'),
header(true))
MARKDOWN()
""",
     ["|name|time|value|", "|:-----|:-----|:-----|",
      "|wave.sin|1676432361000000000|0.000000|",
      "|wave.cos|1676432361000000000|1.000000|",
      "|wave.sin|1676432362000000000|0.406736|",
      "|wave.cos|1676432362000000000|0.913546|",
      "|wave.sin|1676432363000000000|0.743144|",
      ""], PAYM),
    ("CSV_header_false_MARKDOWN", """
CSV(payload(),
field(0, stringType(), 'NAME'),
field(1, datetimeType('s'), 'TIME'),
field(2, doubleType(), 'VALUE'),
header(false))
MARKDOWN()
""",
     ["|NAME|TIME|VALUE|", "|:-----|:-----|:-----|",
      "|wave.sin|1676432361000000000|0.000000|",
      "|wave.cos|1676432361000000000|1.000000|",
      "|wave.sin|1676432362000000000|0.406736|",
      "|wave.cos|1676432362000000000|0.913546|",
      "|wave.sin|1676432363000000000|0.743144|",
      ""], PAYNH),
    ("CSV_no_header_MARKDOWN", """
CSV(payload())
MARKDOWN()
""",
     ["|column0|column1|column2|", "|:-----|:-----|:-----|", *MD5], PAYNH),
    ("CSV_NDJSON", """
CSV("1,line1\\n2,line2\\n3,\\n4,line4")
NDJSON( rownum(true) )
""",
     ['{"ROWNUM":1,"column0":"1","column1":"line1"}',
      '{"ROWNUM":2,"column0":"2","column1":"line2"}',
      '{"ROWNUM":3,"column0":"3","column1":""}',
      '{"ROWNUM":4,"column0":"4","column1":"line4"}',
      "\n"], None),
    ("MAP_MOVAVG_nowait", """
FAKE( linspace(0, 100, 100) )
MAP_MOVAVG(1, value(0), 10, noWait(true))
CSV( precision(4) )
""", Golden("movavg_result_nowait.csv"), None),
    ("MAP_LOWPASS", """
FAKE(arrange(1, 10, 1))
MAPVALUE(1, value(0) + simplex(1, value(0))*3)
MAP_LOWPASS(2, value(1), 0.3)
CSV(precision(2))
""",
     ["1.00,1.48,1.48", "2.00,0.40,1.15", "3.00,3.84,1.96",
      "4.00,2.89,2.24", "5.00,5.47,3.21", "6.00,5.29,3.83",
      "7.00,7.22,4.85", "8.00,10.31,6.49", "9.00,8.36,7.05",
      "10.00,8.56,7.50", "\n"], None),
    ("FILTER_CHANGED_bool", """
FAKE(json({
    ["A", true, 1.0],
    ["A", false, 2.0],
    ["B", false, 3.0],
    ["B", true, 4.0]
}))
FILTER_CHANGED(value(1))
CSV()
""", ["A,true,1", "A,false,2", "B,true,4", "\n"], None),
    ("FILTER_CHANGED_time", """
FAKE(json({
    ["A", 1692329338, 1.0],
    ["A", 1692329339, 2.0],
    ["B", 1692329340, 3.0],
    ["B", 1692329341, 4.0],
    ["B", 1692329342, 5.0],
    ["B", 1692329343, 6.0],
    ["B", 1692329344, 7.0],
    ["B", 1692329345, 8.0],
    ["C", 1692329346, 9.0],
    ["D", 1692329347, 9.1],
    ["D", 1692329348, 9.2],
    ["D", 1692329349, 9.3]
}))
MAPVALUE(1, parseTime(value(1), "s", tz("UTC")))
FILTER_CHANGED(value(0), retain(value(1), "2s"))
CSV(timeformat("s"))
""", ["A,1692329338,1", "B,1692329342,5", "D,1692329349,9.3", "\n"], None),
    ("FILTER_CHANGED_useFirstWithLast(true)", FJ + """
FILTER_CHANGED(value(0), useFirstWithLast(true))
CSV()
""", ["A,1", "A,2", "B,3", "B,5", "C,6", "C,7", "D,8", "D,9", "\n"], None),
    ("FILTER_CHANGED_useFirstWithLast(false)", FJ + """
FILTER_CHANGED(value(0), useFirstWithLast(false))
CSV()
""", ["A,1", "B,3", "C,6", "D,8", "\n"], None),
    ("FILTER_CHANGED_useFirstWithLast(false)_implicit", FJ + """
FILTER_CHANGED(value(0))
CSV()
""", ["A,1", "B,3", "C,6", "D,8", "\n"], None),
    ("FAKE_sphere_4_4", """
FAKE( sphere(4, 4) )
PUSHKEY('test')
CSV( header(true), precision(6) )
""", Golden("sphere_4_4.csv"), None),
    ("FAKE_sphere_0_0", """
FAKE( sphere(0, 0) )
PUSHKEY('test')
CSV( header(false), precision(6) )
""", Golden("sphere_0_0.csv"), None),
    ("FFT_not_enough_samples_0", """
FAKE( linspace(0, 10, 100) )
FFT()
CSV()
""", ["\n"], None),
]


@pytest.mark.parametrize("name,script,expect,payload",
                         TQL_CASES, ids=[c[0] for c in TQL_CASES])
def test_tqltest_battery(spark, name, script, expect, payload):
    if isinstance(expect, Golden):
        if not os.path.isdir(GOLDEN_DIR):
            pytest.skip("reference goldens not available")
        expect = loadlines(expect)
    out = run_script(spark, script, payload=payload)
    assert out == "\n".join(expect)


# task_test.go runTest model: out == join(expect) + "\n"
TASK_CASES = [
    ("TestHistogram_bins_0_200_20", """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
HISTOGRAM(value(0), bins(0, 200, 20))
CSV( precision(0) )""",
     ["0,20,0", "20,40,2", "40,60,12", "60,80,19", "80,100,25",
      "100,120,22", "120,140,8", "140,160,8", "160,180,4", "180,200,0", ""]),
    ("TestHistogram_bins_80_120_13", """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
HISTOGRAM(value(0), bins(80, 120, 13))
CSV( precision(0), header(true) )""",
     ["low,high,count", "-Inf,80,19", "80,93,28", "93,106,19",
      "106,119,14", "119,+Inf,20", ""]),
    ("TestHistogram_bins_20_180_20", """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
HISTOGRAM(value(0), bins(20, 180, 20))
CSV( header(true), precision(0) )""",
     ["low,high,count", "20,40,2", "40,60,12", "60,80,19", "80,100,25",
      "100,120,22", "120,140,8", "140,160,8", "160,180,4", ""]),
    ("TestHistogram_category_order", """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
PUSHVALUE(0, key() % 2 == 0 ? "Cat.A" : "Cat.B")
HISTOGRAM(value(1), bins(0, 200, 20), category(value(0)), order("Cat.B", "Cat.A"))
CSV( header(true), precision(0) )""",
     ["low,high,Cat.B,Cat.A", "0,20,0,0", "20,40,1,1", "40,60,5,7",
      "60,80,6,13", "80,100,14,11", "100,120,14,8", "120,140,4,4",
      "140,160,5,3", "160,180,1,3", "180,200,0,0", ""]),
    ("TestHistogramUnpredictedBins", """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
HISTOGRAM(value(0), bins(10))
CSV( header(true), precision(0) )""",
     ["value,count", "23,1", "44,6", "59,12", "80,26", "99,20",
      "113,18", "129,5", "141,2", "153,7", "170,3", ""]),
]

BOX_SRC = """
FAKE(json({
    ["A", 850, 740, 900, 1070, 930, 850, 950, 980, 980, 880, 1000, 980, 930, 650, 760, 810, 1000, 1000, 960, 960],
    ["B", 960, 940, 960, 940, 880, 800, 850, 880, 900, 840, 830, 790, 810, 880, 880, 830, 800, 790, 760, 800],
    ["C", 880, 880, 880, 860, 720, 720, 620, 860, 970, 950, 880, 910, 850, 870, 840, 840, 850, 840, 840, 840],
    ["D", 890, 810, 810, 820, 800, 770, 760, 740, 750, 760, 910, 920, 890, 860, 880, 720, 840, 850, 850, 780],
    ["E", 890, 840, 780, 810, 760, 810, 790, 810, 820, 850, 870, 870, 810, 740, 810, 940, 950, 800, 810, 870]
}))"""

TASK_CASES += [
    ("TestBoxplot_standard", BOX_SRC + """
TRANSPOSE(fixed(0))
BOXPLOT(value(1), category(value(0)), order("A", "D","C","B","E"), boxplotInterp(true, false, true))
FILTER(value(0) != "OUTLIER")
CSV( header(true), precision(0) )""",
     ["CATEGORY,A,D,C,B,E", "MIN,650,720,620,760,740",
      "LOWER,655,610,780,680,695", "Q1,850,760,840,800,800",
      "Q2,930,810,850,840,810", "Q3,980,860,880,880,870",
      "UPPER,1175,1010,940,1000,975", "MAX,1070,920,970,960,950",
      "IQR,130,100,40,80,70", ""]),
    ("TestBoxplot_chart", BOX_SRC + """
TRANSPOSE(fixed(0))
BOXPLOT(value(1), category(value(0)), order("A", "D","C","B","E"), boxplotInterp(true, false, true), boxplotOutput("chart"))
CSV(header(true))""",
     ["CATEGORY,BOXPLOT,OUTLIER",
      "A,[]interface {},[]interface {}",
      "D,[]interface {},[]interface {}",
      "C,[]interface {},[]interface {}",
      "B,[]interface {},[]interface {}",
      "E,[]interface {},[]interface {}", ""]),
]


@pytest.mark.parametrize("name,script,expect",
                         TASK_CASES, ids=[c[0] for c in TASK_CASES])
def test_tasktest_battery(spark, name, script, expect):
    out = run_script(spark, script)
    assert out == "\n".join(expect) + "\n"


def test_markdown_template(spark):
    """CSV_payload_MAPVALUE_MARKDOWN_TEMPLATE — Go-template MARKDOWN with
    IsFirst/IsLast sections and float %v shortest-repr values."""
    out = run_script(spark, """
CSV(payload(), header(false))
MAPVALUE(2, value(2) != "VALUE" ? parseFloat(value(2))*10 : value(2))
MARKDOWN({
{{ if .IsFirst }}## demo
{{ end }}{{ .Value 0 }},{{ .Value 2 }}
{{ if .IsLast }}--------
{{ end }}
})
""", payload=PAY5)
    for want in ("## demo", "NAME,VALUE", "wave.sin,0", "wave.cos,10",
                 "wave.sin,4.067", "wave.cos,9.135", "--------"):
        assert want in out


def test_fake_error_messages(spark):
    """FAKE error-message parity, exact text (tql_test.go:1520-1546)."""
    for script, msg in [
        ("FAKE( 123 )\nCSV()",
         "f(FAKE) arg(0) should be fakeSource, but float64"),
        ("FAKE( arrange(10, 30, 0) )\nCSV()",
         'FUNCTION "arrange" step can not be 0'),
        ("FAKE( arrange(10, 10, 10) )\nCSV()",
         'FUNCTION "arrange" start, stop can not be equal'),
        ("FAKE( arrange(10, 30, -10) )\nCSV()",
         'FUNCTION "arrange" step can not be less than 0'),
        ("FAKE( arrange(30, 10, 10) )\nCSV()",
         'FUNCTION "arrange" step can not be greater than 0'),
    ]:
        with pytest.raises(Exception) as ei:
            run_script(spark, script)
        assert msg in str(ei.value)


def test_fft_tuple_len_error(spark):
    """FFT over 3-wide tuples raises the reference's exact message
    (fm_fourier.go:63)."""
    with pytest.raises(ValueError,
                       match=r"but len=3"):
        run_script(spark, """
FAKE( meshgrid(linspace(0, 10, 100), linspace(0, 10, 1000)) )
PUSHKEY('sample')
GROUPBYKEY()
FFT()
CSV()
""")


def test_shell_battery_case(spark):
    """SHELL_shell-command: combined stdout split on newline keeps the
    final empty record (fm_shell.go:131-135)."""
    out = run_script(spark, """
FAKE( once(1) )
SHELL("echo 'Hello, World!'; echo 123;")
CSV()
""", allow_shell=True)
    assert out == "\n".join(['"Hello, World!"', "123", "", "", ""])


# ---------------------------------------------------------------------------
# task_test.go clusters: TestSetVariables, TestMathMarkdown, TestArrange,
# TestLinspace, TestMeshgrid, TestPushKey, TestPushAndPopMonad,
# TestGroupByKey, TestMapKey, TestPushValue, TestPushPopValue,
# TestMapValue, TestDropTake, TestTimeWindowMs, TestTimeWindowHighDef —
# scripts and expected lines transcribed verbatim.
# ---------------------------------------------------------------------------

TASK2_CASES = []


def _case2(name, script, expect=None, payload=None, err=None, now_ns=None):
    TASK2_CASES.append((name, script, expect, payload, err, now_ns))


# --- TestSetVariables ---
_case2("SetVariables_1", """FAKE( linspace(0, 1, 3))
SET(x10, value(0) * 10)
SET(x10, $x10 + 1)
MAPVALUE(1, $x10)
CSV(header(true))""", ["x,column","0,1","0.5,6","1,11",""])
_case2("SetVariables_2", """FAKE( arrange(0, 3, 1))
SET(flag, value(0) != 0 && mod(value(0), 2) == 0 )
MAPVALUE(1, !$flag)
CSV(header(true))""", ["x,column","0,true","1,true","2,false","3,true",""])
_case2("SetVariables_3", """STRING("temp")
SET(temp, 11)
MAPVALUE(0, 1.234)
MAPVALUE(1, $temp)
CSV()""", ["1.234,11",""])

# --- TestMathMarkdown ---
_case2("MathMarkdown_1", """FAKE( linspace(0, 1, 2))
PUSHKEY('signal.md')
MARKDOWN()""", ["|ROWNUM|x|","|:-----|:-----|","|1|0.000000|","|2|1.000000|"])
_case2("MathMarkdown_2", """FAKE( linspace(0, 1, 2))
MARKDOWN()""", ["|x|","|:-----|","|0.000000|","|1.000000|"])
_case2("MathMarkdown_3", """FAKE( linspace(0, 1, -1))
MARKDOWN()""", ["|x|","|:-----|","","> *No record*"])

# --- TestArrange / TestLinspace / TestMeshgrid ---
_case2("Arrange_1", "FAKE( arrange(0, 2, 1) )\nCSV( heading(true), precision(1) )",
     ["x","0.0","1.0","2.0",""])
_case2("Arrange_2", "FAKE( arrange(2, 0, -1) )\nCSV( heading(true), precision(1) )",
     ["x","2.0","1.0","0.0",""])
_case2("Linspace", "FAKE( linspace(0, 2, 3))\nCSV( heading(true), precision(1) )",
     ["x","0.0","1.0","2.0",""])
_case2("Meshgrid", "FAKE( meshgrid(linspace(0, 2, 3), linspace(0, 2, 3)) )\nCSV( heading(true), precision(6) )",
     ["x,y","0.000000,0.000000","0.000000,1.000000","0.000000,2.000000","1.000000,0.000000","1.000000,1.000000","1.000000,2.000000","2.000000,0.000000","2.000000,1.000000","2.000000,2.000000",""])

# --- TestPushKey / PushAndPop / GroupByKey / MapKey ---
_case2("PushKey", """FAKE( linspace(0, 1, 2))
PUSHKEY('sample')
PUSHKEY('test')
CSV(header(true))""", ["key,ROWNUM,x","sample,1,0","sample,2,1",""])
_case2("PushPop_1", """FAKE( linspace(0, 1, 3))
PUSHKEY('sample')
POPKEY()
CSV(precision(1))""", ["0.0","0.5","1.0",""])
_case2("PushPop_2", """FAKE( linspace(0, 3.141592/2, 5) )
PUSHKEY(sin(value(0)))
PUSHKEY(value(0))
POPKEY(1)
POPKEY(1)
PUSHKEY('test')
CSV(precision(3))""", ["0.000,0.000","0.393,0.383","0.785,0.707","1.178,0.924","1.571,1.000",""])
_case2("GroupByKey", """FAKE( linspace(0, 2, 3))
PUSHKEY('sample')
GROUPBYKEY()
FLATTEN()
PUSHKEY('test')
CSV(precision(6))""", ["sample,1,0.000000","sample,2,1.000000","sample,3,2.000000",""])
_case2("MapKey_1", """FAKE( linspace(0, 2, 3))
MAPKEY(value(0)*2)
PUSHKEY('test')
CSV(precision(0))""", ["0,0","2,1","4,2",""])
_case2("MapKey_2", """FAKE( linspace(0, 2, 3))
MAPKEY(key())
PUSHKEY('test')
CSV(precision(0))""", ["1,0","2,1","3,2",""])
_case2("MapKey_3", """FAKE( linspace(0, 2, 3))
MAPKEY( key() + 100 )
PUSHKEY('test')
CSV(precision(1))""", ["101.0,0.0","102.0,1.0","103.0,2.0",""])

# --- TestPushValue ---
for i in (-2, -1, 0):
    _case2(f"PushValue_{i}", f"""FAKE( linspace(0, 2, 3))
PUSHVALUE({i}, value(0)*1.5)
CSV(precision(1), heading(true), rownum(true))""",
         ["ROWNUM,column,x","1,0.0,0.0","2,1.5,1.0","3,3.0,2.0",""])
_case2("PushValue_1named", """FAKE( linspace(0, 2, 3))
PUSHVALUE(1, value(0)*1.5, 'x1.5')
CSV(precision(1), heading(true), rownum(false))""",
     ["x,x1.5","0.0,0.0","1.0,1.5","2.0,3.0",""])
_case2("PushValue_popkey", """FAKE( json({["a", 0],["b", 1],["c", 2]}))
POPKEY(0)
PUSHVALUE(1, value(0)*1.5, 'x1.5')
CSV(precision(1), heading(false), rownum(false))""",
     ["0.0,0.0","1.0,1.5","2.0,3.0",""])
_case2("PushValue_chain", """FAKE( linspace(0, 2, 3))
PUSHVALUE(1, value(0)*1.5, 'x1.5')
PUSHVALUE(2, value(1)+10, 'add')
CSV(precision(1), heading(true), rownum(false))""",
     ["x,x1.5,add","0.0,0.0,10.0","1.0,1.5,11.5","2.0,3.0,13.0",""])
_case2("PushValue_where", """FAKE( linspace(0, 2, 3))
PUSHVALUE(1, value(0)*1.5, 'x1.5')
PUSHVALUE(2, value(1)+10, 'add', where(value(0) != 1.0 ))
CSV(precision(1), heading(true), rownum(false))""",
     ["x,x1.5,add","0.0,0.0,10.0","1.0,1.5,NULL","2.0,3.0,13.0",""])
_case2("PushPopValue", """FAKE( linspace(0, 2, 3))
PUSHVALUE(1, value(0)*1.5, 'x1.5')
PUSHVALUE(2, value(1)+10, 'add')
PUSHVALUE(3, value(2)+0.5, 'add2')
POPVALUE(0,1,2)
CSV(precision(1), heading(true), rownum(true))""",
     ["ROWNUM,add2","1,10.5","2,12.0","3,13.5",""])

# --- TestMapValue ---
_case2("MapValue_neg", """FAKE( linspace(0, 2, 3))
MAPVALUE(-1, value(0)*1.5)
CSV(precision(1))""", ["0.0,0.0","1.5,1.0","3.0,2.0",""])
_case2("MapValue_99", """FAKE( linspace(0, 2, 3))
MAPVALUE(99, value(0)*1.5)
CSV(precision(1), header(true))""", ["x,column","0.0,0.0","1.0,1.5","2.0,3.0",""])
_case2("MapValue_rename", """FAKE( linspace(0, 2, 3))
MAPVALUE(0, value(0)*1.5, 'new_column')
CSV(precision(1), header(true))""", ["new_column","0.0","1.5","3.0",""])
_case2("MapValue_sprintf", """FAKE( csv(`world,3.141592`) )
MAPVALUE(1, parseFloat(value(1)))
MAPVALUE(2, strSprintf(`hello %s, %1.2f`, value(0), value(1)))
CSV()""", ['world,3.141592,"hello world, 3.14"',""])
_case2("MapValue_ternary_empty", """FAKE( csv(`1,,3`) )
MAPVALUE(0, parseFloat(value(0)))
MAPVALUE(1, value(1) == "" ? 100 : parseFloat(value(1)) )
MAPVALUE(2, parseFloat(value(2)))
CSV()""", ["1,100,3",""])
_case2("MapValue_nullValue", """FAKE( json({[1],[null],[3]}) )
MAPVALUE(0, value(0), nullValue(2))
CSV()""", ["1","2","3",""])
_case2("MapValue_where_mod", """FAKE( json({[1],[null],[3]}) )
MAPVALUE(0, value(0), nullValue(2))
MAPVALUE(0, value(0) * 10, where( value(0) % 2 == 0) )
CSV()""", ["1","20","3",""])

# --- TestDropTake ---
_case2("DropTake_1", """FAKE( linspace(0, 2, 100))
DROP(50)
TAKE(3)
PUSHKEY('test')
CSV(precision(6))""", ["51,1.010101","52,1.030303","53,1.050505",""])
_case2("DropTake_2", """FAKE( linspace(0, 2, 100))
DROP(0)
TAKE(2)
PUSHKEY('test')
CSV(precision(6))""", ["1,0.000000","2,0.020202",""])
_case2("DropTake_zero", """FAKE( linspace(0, 2, 100))
DROP(0)
TAKE(0)
PUSHKEY('test')
CSV(precision(6))""", [""])
_case2("DropTake_offsets", """FAKE( linspace(0, 2, 100))
DROP(5, 45)
TAKE(5, 3)
PUSHKEY('test')
CSV(precision(6))""", ["51,1.010101","52,1.030303","53,1.050505",""])
_case2("Take_neg_err", """FAKE( linspace(0, 2, 100) )
TAKE(5, -1)
CSV(precision(6))""", err="f(TAKE) arg(1) limit should be larger than 0")
_case2("Drop_neg_err", """FAKE( linspace(0, 2, 100) )
DROP(5, -1)
CSV(precision(6))""", err="f(DROP) arg(1) limit should be larger than 0")

# --- TestTimeWindowMs ---
_case2("TimeWindowMs", """CSV(payload(),
    field(0, datetimeType("ms"), "time"),
    field(1, doubleType(), "value"))
TIMEWINDOW(
    time(1700256250 * 1000000000),
    time(1700256285 * 1000000000),
    period('5s'),
    'time', 'avg')
CSV(timeformat("ms"), heading(true))""",
     ["time,value","1700256250000,NULL","1700256255000,NULL","1700256260000,2.5","1700256265000,7","1700256270000,NULL","1700256275000,10","1700256280000,NULL",""],
     payload="\n".join(["1700256261001,1","1700256262010,2","1700256263100,3","1700256264010,4","1700256265002,5","1700256266020,6","1700256267200,7","1700256268020,8","1700256269002,9","1700256276300,10"]))

# --- TestTimeWindowHighDef (pinned now) ---
_case2("TimeWindowHighDef", """FAKE(
    oscillator(
      freq(15, 1.0), freq(24, 1.5),
      range('now', '10s', '1ms'))
  )
TIMEWINDOW(
    time('now'),
    time('now+10s'),
    period('1s'),
    'time', 'first')
CSV(timeformat("ns"), heading(true), precision(7))""",
     ["time,value","1692329339000000000,0.1046705","1692329340000000000,0.1046637","1692329341000000000,0.1046874","1692329342000000000,0.1046806","1692329343000000000,0.1046738","1692329344000000000,0.1046670","1692329345000000000,0.1046906","1692329346000000000,0.1046838","1692329347000000000,0.1046770","1692329348000000000,0.1046702",""],
     now_ns=1692329338315327000)



@pytest.mark.parametrize("name,script,expect,payload,err,now_ns",
                         TASK2_CASES, ids=[c[0] for c in TASK2_CASES])
def test_tasktest_battery2(spark, name, script, expect, payload, err, now_ns):
    if err is not None:
        with pytest.raises(Exception) as ei:
            run_script(spark, script, payload=payload, now_ns=now_ns)
        assert err in str(ei.value)
        return
    out = run_script(spark, script, payload=payload, now_ns=now_ns)
    assert out == "\n".join(expect) + "\n"


# ---------------------------------------------------------------------------
# task_test.go: TestArgs, TestWhen (do() sub-pipelines), TestDiscardSink,
# TestJsonToCsv, TestCsvToCsvWithLogProgress, TestCsvToJson, TestSrcError
# ---------------------------------------------------------------------------


def test_args_empty_record(spark):
    """TestArgs: ARGS() with no invocation args emits ONE empty-tuple
    record that downstream MAPVALUEs populate (fm_context.go fmArgsParam)."""
    out = run_script(spark, """
ARGS()
MAPVALUE(0, 'tag-1', 'name')
MAPVALUE(1, 123.4, 'value')
CSV(heading(true))
""")
    assert out == "name,value\ntag-1,123.4\n\n"


def _capture_doer_logs():
    import logging

    from neo_server_spark.tql import doers as D
    records = []
    h = logging.Handler()
    h.emit = lambda rec: records.append(f"{rec.levelname} {rec.getMessage()}")
    D.LOG.addHandler(h)
    D.LOG.setLevel(logging.INFO)
    return records, (lambda: D.LOG.removeHandler(h))


@pytest.mark.parametrize("src_stmt", ["ARGS()", "FAKE( args() )"])
def test_when_do_subpipeline_args(spark, src_stmt):
    """TestWhen do() sub-pipelines: args flow into the nested task via
    ARGS()/FAKE(args()) and args(n) (fm_monad.go:2310-2383)."""
    records, cleanup = _capture_doer_logs()
    try:
        run_script(spark, """
FAKE( linspace(0, 1, 2) )
WHEN( mod(value(0),2) == 1, do("test", value(0), {
  %s
  WHEN(true, doLog("MSG", args(0), args(1), "안녕") )
  DISCARD()
} ))
DISCARD()
""" % src_stmt)
        assert records == ["INFO MSG test 1 안녕"]
    finally:
        cleanup()


def test_discard_sink_subroutine(spark):
    """TestDiscardSink: a CSV() sink inside do() warns and is inert; the
    nested WHEN/doLog still fires with the evaluated args."""
    records, cleanup = _capture_doer_logs()
    try:
        run_script(spark, """
CSV("1,line-1\\n2,line-2\\n3,line-3")
MAPVALUE(0, parseFloat(value(0)))
WHEN(
  value(0) == 2 &&
  strHasPrefix( strToUpper(value(1)), "LINE-") &&
  strHasSuffix(value(1), "-2"),
  do(value(0), strToUpper(value(1)), {
    ARGS()
    WHEN(true, doLog("OUTPUT:", value(0), strToLower(value(1)) ))
    CSV()
  })
)
DISCARD()
""")
        assert "INFO OUTPUT: 2 line-2" in records
        assert ("WARNING do: CSV() sink does not work in a sub-routine"
                in records)
    finally:
        cleanup()


def test_discard_sink_unicode(spark):
    records, cleanup = _capture_doer_logs()
    try:
        run_script(spark, """
FAKE( json({
    [ 1, "hello" ],
    [ 2, "你好"],
    [ 3, "world" ],
    [ 4, "世界"]
}))
WHEN(
    mod(value(0), 2) == 0,
    do( value(0), strToUpper(value(1)), {
        ARGS()
        WHEN( true, doLog("OUTPUT:", value(0), value(1)))
        DISCARD()
    })
)
CSV()
""")
        assert "INFO OUTPUT: 2 你好" in records
        assert "INFO OUTPUT: 4 世界" in records
    finally:
        cleanup()


JSON_NULL_SRC = 'FAKE(json({ ["A", 123], ["B", null], ["C", 234] }))\n'


@pytest.mark.parametrize("opt,expect", [
    ('nullValue("<NULL>")', ["A,123", "B,<NULL>", "C,234", "\n"]),
    ('substituteNull("<NULL>")', ["A,123", "B,<NULL>", "C,234", "\n"]),
    ("nullValue(false)", ["A,123", "B,false", "C,234", "\n"]),
    ("nullValue(3.14)", ["A,123", "B,3.14", "C,234", "\n"]),
    ("nullValue(3.14), precision(1)",
     ["A,123.0", "B,3.1", "C,234.0", "\n"]),
], ids=["str", "legacy", "bool", "float", "float_precision"])
def test_json_to_csv_nullvalue(spark, opt, expect):
    """TestJsonToCsv: nullValue()/substituteNull() substitution typing."""
    out = run_script(spark, JSON_NULL_SRC + f"CSV( {opt} )\n")
    assert out == "\n".join(expect)


def test_csv_logprogress_option(spark):
    """TestCsvToCsvWithLogProgress: logProgress(n) is accepted (no-op)."""
    out = run_script(spark, """
CSV("1,line1\\n2,line2\\n3,\\n4,line4", logProgress(2))
CSV( heading(true) )
""")
    assert out == "\n".join(
        ["column0,column1", "1,line1", "2,line2", "3,", "4,line4", "\n"])


def test_csv_to_json_envelope(spark):
    """TestCsvToJson case 1: untyped CSV -> JSON envelope."""
    import json as _json
    out = run_script(spark, 'CSV("A,123\\nB,456\\nC,789")\nJSON()\n')
    d = _json.loads(out)
    assert d["success"] is True and d["reason"] == "success"
    assert d["data"]["columns"] == ["column0", "column1"]
    assert d["data"]["types"] == ["string", "string"]
    assert d["data"]["rows"] == [["A", "123"], ["B", "456"], ["C", "789"]]


@pytest.mark.parametrize("script,err", [
    ("FAKE( arrange(0, 1, 1) )\nINSERT(table('example'))\nJSON()",
     'line 2, column 1: "INSERT()" is not applicable for MAP '
     "[statement: INSERT(table('example'))]"),
    ("MAPVALUE(0, 1)\nSQL('select * from example')\nJSON()",
     'line 1, column 1: "MAPVALUE()" is not applicable for SRC '
     "[statement: MAPVALUE(0, 1)]"),
    ("FAKE( arrange(0, 1, 1) )\nSQL('select * from example')",
     'line 2, column 1: f(SQL) sink does not allow fetch verb "SELECT" '
     "[statement: SQL('select * from example')]"),
], ids=["sink_as_map", "map_as_src", "sql_fetch_sink"])
def test_src_error_structure(spark, script, err):
    """TestSrcError: script_validate.go structural compile errors with the
    reference's exact message text."""
    with pytest.raises(ValueError) as ei:
        run_script(spark, script)
    assert str(ei.value) == err


def test_pragma_log_level(spark):
    """tql_test.go TestPragma: #pragma lines are consumed; the SCRIPT
    console.log runs and all 5 records yield into the JSON envelope."""
    import json as _json
    out = run_script(spark, """
#pragma log-level=warn
FAKE( linspace(1, 5, 5))
SCRIPT("js", { console.log("-", $.values[0]); $.yield($.values[0]) })
JSON()
""")
    d = _json.loads(out)
    assert d["success"] is True
    assert len(d["data"]["rows"]) == 5


def test_lowpass_alpha_error(spark):
    """fm_monad_test.go TestMapLowPass: exact invalid-alpha message."""
    with pytest.raises(ValueError,
                       match=r"MAP_LOWPASS\(\) should have 0 < alpha < 1 "):
        run_script(spark, """
FAKE( linspace(0, 1, 3) )
MAP_LOWPASS(1, value(0), 1.0)
CSV()
""")


def test_histogram_partial_order(spark):
    """fm_stat.go sortCategoryNames (TestHistogramOrder): a PARTIAL
    order() lists those categories first, the rest follow sorted."""
    out = run_script(spark, """FAKE( arrange(1, 100, 1) )
MAPVALUE(0, (simplex(12, value(0)) + 1) * 100)
PUSHVALUE(0, key() % 2 == 0 ? "Cat.A" : "Cat.B")
HISTOGRAM(value(1), bins(0, 200, 20), category(value(0)), order("Cat.B"))
CSV( header(true), precision(0) )""")
    assert out.splitlines()[0] == "low,high,Cat.B,Cat.A"


def test_bins_arg_count_error(spark):
    """fm_stat.go:251 exact bins() arity error."""
    with pytest.raises(ValueError,
                       match=r"f\(bins\) invalid number of args; "
                             r"expected 1 or 3, got 2"):
        run_script(spark, """FAKE( arrange(1, 10, 1) )
HISTOGRAM(value(0), bins(0, 10))
CSV()""")


# ---------------------------------------------------------------------------
# tql_test.go TestDatabaseTql admin shapes: SHOW INDEXGAP / TAGINDEXGAP /
# TAGS, DESC, EXEC table_flush through SQL('...') text
# ---------------------------------------------------------------------------


def test_sql_admin_verbs(spark, sf_dir):
    """SQL('show indexgap'/'show tagindexgap'/'show tags T'/'desc T'/
    'EXEC table_flush(T)') route to the catalog views with the
    reference's exact column sets (spi/show.go schemas)."""
    import json as _json

    from neo_server_spark.tql.script import TqlRunner

    def r(s):
        return TqlRunner(spark, sf_dir=sf_dir).run(s)

    d = _json.loads(r('SQL("show indexgap")\nJSON()'))
    assert d["data"]["columns"][:3] == ["INDEX_ID", "TABLE_NAME",
                                        "INDEX_NAME"]
    d = _json.loads(r('SQL("show tagindexgap")\nJSON()'))
    assert d["data"]["columns"][:3] == ["TABLE_ID", "TABLE_NAME", "STATUS"]
    out = r('SQL("EXEC table_flush(events)")\nMARKDOWN()')
    assert out.splitlines() == ["|MESSAGE|", "|:-----|", "|executed.|"]
    out = r('SQL("show tags events")\nCSV(header(true))')
    assert out.splitlines()[0] == (
        "ID,NAME,ROW_COUNT,MIN_TIME,MAX_TIME,RECENT_ROW_TIME,"
        "MIN_VALUE,MIN_VALUE_TIME,MAX_VALUE,MAX_VALUE_TIME")
    out = r('SQL("desc events;")\nCSV(header(true))')
    lines = out.splitlines()
    assert lines[0] == "COLUMN,TYPE,LENGTH,FLAG,INDEX"
    assert any(ln.startswith("TS,datetime,31,base time") for ln in lines)


def test_http_file_sources(spark):
    """task_test.go TestHttpFile: STRING/BYTES/CSV file() over http —
    fetched driver-side (fm_csv.go:115-135), literal-rows path."""
    import http.server
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = {
                "/string": b"ok.", "/bytes": b"ok.",
                "/csv": b'1,3.141592,true,"escaped, string",123456',
            }.get(self.path, b"")
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_port}"
        assert run_script(
            spark, f'STRING(file("{base}/string"))\nCSV()') == "ok.\n\n"
        assert run_script(
            spark, f'BYTES(file("{base}/bytes"))\nCSV(binaryformat("hex"))'
        ) == "0x6f6b2e\n\n"
        assert run_script(
            spark, f'CSV(file("{base}/csv"))\nCSV()'
        ) == '1,3.141592,true,"escaped, string",123456\n\n'
    finally:
        srv.shutdown()


TEMPLATE_CASES = [
    ("array_template", """SCRIPT({
    $.yield(1, 2, 3);
    $.yield(4, 5, 6);
})
TEXT('{{- .Value 0 }},{{ .Value 1 }},{{ .Value 2 }}{{"\\n"}}')
""", "1,2,3\n4,5,6\n"),
    ("v_map_default_names", """SCRIPT({
    $.yield("John", 30);
    $.yield("Jane", 25);
})
TEXT({
    {{- with .V -}}
        {{ .column0 }}:{{ .column1 }}{{"\n"}}
    {{- end -}}
})
""", "John:30\nJane:25\n"),
    ("v_map_result_names", """SCRIPT({
    $.result = {
        columns: ["name", "age"],
        types: ["string", "int64"]
    };
    $.yield("John", 30);
    $.yield("Jane", 25);
})
TEXT({
    {{- with .V -}}
        {{ .name }}:{{ .age }}{{"\n"}}
    {{- end -}}
})
""", "John:30\nJane:25\n"),
    ("object_yield", """SCRIPT({
    $.yield({name: "John", age: 30});
    $.yield({name: "Jane", age: 25});
})
TEXT({
    {{- with .Value 0 -}}
        {{ .name }}:{{ .age }}{{"\n"}}
    {{- end -}}
})
""", "John:30\nJane:25\n"),
]


@pytest.mark.parametrize("name,script,want", TEMPLATE_CASES,
                         ids=[c[0] for c in TEMPLATE_CASES])
def test_script_to_template(spark, name, script, want):
    """fm_script_test.go TestScriptToTemplate, verbatim: TEXT() Go
    templates — with-blocks, trim markers, literal strings, named and
    object field access."""
    assert run_script(spark, script) == want


def test_script_exception_verbatim(spark):
    """fm_script_test.go TestScriptException, verbatim: try/catch/throw,
    goja's missing-member message, thrown strings caught as values."""
    from neo_server_spark.tql.script import TqlRunner

    r = TqlRunner(spark)
    out = r.run("""
SCRIPT("js", {
    o = {a: 1, other: ()=>{throw "other error";}};
    o.a++;
    $.yield(o.a)
    try {
        o.undef_function();
    } catch (e) {
        console.error(e.message);
    }
    try {
        o.other();
    } catch (e) {
        console.error(e);
    }
})
CSV()
""")
    assert out == "2\n\n"
    assert r.script_logs == [
        ("ERROR", "Object has no member 'undef_function'"),
        ("ERROR", "other error")]


def test_jslite_arrows_and_try(spark):
    """Arrow functions (all three shapes) + try/finally composition."""
    out = run_script(spark, """
SCRIPT("js", {
    const inc = x => x + 1;
    const add = (a, b) => a + b;
    const konst = () => { return 42; };
    let cleanup = 0;
    try {
        throw Error("boom");
    } catch (e) {
        $.yield(inc(1), add(2, 3), konst(), e.message);
    } finally {
        cleanup = 1;
    }
    $.yield(cleanup, 0, 0, "done");
})
CSV()
""")
    assert out.splitlines()[:2] == ["2,5,42,boom", "1,0,0,done"]


def test_rest_client_http_dsl(spark):
    """tql_test.go TestRestClient: HTTP-DSL source with ?/& query
    extension lines (percent-encoded on the wire) -> raw response record."""
    import http.server
    import threading

    class H(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = b"name,time,value\n"
            self.send_response(200)
            self.send_header("Content-Type", "text/csv")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        out = run_script(spark, """
HTTP({
    GET http://127.0.0.1:%d/db/query
    ?q=select * from tag_simple limit 2
    &format=csv
})
TEXT()
""" % srv.server_port)
        assert out.startswith("HTTP/1.1 200 OK")
        assert "Content-Type: text/csv" in out
    finally:
        srv.shutdown()


def test_binaryformat_variants():
    """TestDatabaseBinaryTql's four binaryformat() renderings
    (mods/util/types.go BinaryFormatter), byte-exact."""
    from neo_server_spark.codecs.encoders import format_binary
    v = bytes(range(1, 11))
    assert format_binary(v, "hex") == "0x0102030405060708090a"
    assert format_binary(v, "preview") == "0x0102030405.."
    assert format_binary(v, "base64") == "AQIDBAUGBwgJCg=="
    assert format_binary(v, "bytes") == "[1 2 3 4 5 6 7 8 9 10]"
    assert format_binary(bytes([1, 2]), "preview") == "0x0102"
    assert format_binary(b"", "hex") == ""


def _norm_sql(s):
    lines = [ln.strip() for ln in s.split("\n") if ln.strip()]
    return '"' + " ".join(lines) + '"'


SQLSELECT_DUMPS = [
    ("""SQL_SELECT('value', between('last-10s', 'last'), from("table", "tag", "time"), dump(true))
CSV()""",
     "SELECT value FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(SELECT MAX_TIME-10000000000 FROM V$TABLE_STAT WHERE name = 'tag') "
     "AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') "
     "LIMIT 0, 1000000"),
    ("""SQL_SELECT('time', 'value', from('table', 'tag'), dump(true))
CSV()""",
     "SELECT time, value FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(SELECT MAX_TIME-1000000000 FROM V$TABLE_STAT WHERE name = 'tag') "
     "AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') "
     "LIMIT 0, 1000000"),
    ("""SQL_SELECT('(val * 0.01) altVal', 'val2', from('table', 'tag'), dump(true))
CSV()""",
     "SELECT (val * 0.01) altVal, val2 FROM TABLE WHERE name = 'tag' AND "
     "time BETWEEN (SELECT MAX_TIME-1000000000 FROM V$TABLE_STAT WHERE "
     "name = 'tag') AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = "
     "'tag') LIMIT 0, 1000000"),
    ("""SQL_SELECT('(val + val2/2)', from('table', 'tag'), between('last-2.34s', 'last'), limit(10, 2000), dump(true))
CSV()""",
     "SELECT (val + val2/2) FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(SELECT MAX_TIME-2340000000 FROM V$TABLE_STAT WHERE name = 'tag') "
     "AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') "
     "LIMIT 10, 2000"),
    ("""SQL_SELECT('time', 'val', from('table', 'tag'), between('now -2.34s', 'now'), limit(5, 100), dump(true))
CSV()""",
     "SELECT time, val FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(now-2340000000) AND now LIMIT 5, 100"),
    ("""SQL_SELECT('value', from('table', 'tag'), between(123456789000-2.34*1000000000, 123456789000), dump(true))
CSV()""",
     "SELECT value FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "121116789000 AND 123456789000 LIMIT 0, 1000000"),
    ("""SQL_SELECT('AVG(val1+val2)', from('table', 'tag'), dump(true))
CSV()""",
     "SELECT AVG(val1+val2) FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(SELECT MAX_TIME-1000000000 FROM V$TABLE_STAT WHERE name = 'tag') "
     "AND (SELECT MAX_TIME FROM V$TABLE_STAT WHERE name = 'tag') "
     "LIMIT 0, 1000000"),
    ("""SQL_SELECT( 'time', 'STDDEV(value)', from('example', 'barn'), between('last -1h23m45s', 'last', '10m'), dump(true))
CSV()""",
     "SELECT from_timestamp(round(to_timestamp(time)/600000000000)*"
     "600000000000) time, STDDEV(value) FROM EXAMPLE WHERE name = 'barn' "
     "AND time BETWEEN (SELECT MAX_TIME-5025000000000 FROM V$EXAMPLE_STAT "
     "WHERE name = 'barn') AND (SELECT MAX_TIME FROM V$EXAMPLE_STAT WHERE "
     "name = 'barn') GROUP BY time ORDER BY time LIMIT 0, 1000000"),
    ("""SQL_SELECT('time', 'STDDEV(val)', from('table', 'tag'), between(123456789000 - 3.45*1000000000, 123456789000, '1ms'), limit(1, 100), dump(true))
CSV()""",
     "SELECT from_timestamp(round(to_timestamp(time)/1000000)*1000000) "
     "time, STDDEV(val) FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "120006789000 AND 123456789000 GROUP BY time ORDER BY time "
     "LIMIT 1, 100"),
    ("""SQL_SELECT('STDDEV(val)', from('table', 'tag'), between('now-2.34s', 'now', '0.5ms'), limit(3, 100), dump(true))
CSV()""",
     "SELECT STDDEV(val) FROM TABLE WHERE name = 'tag' AND time BETWEEN "
     "(now-2340000000) AND now GROUP BY time ORDER BY time LIMIT 3, 100"),
]


@pytest.mark.parametrize("script,want", SQLSELECT_DUMPS,
                         ids=[f"dump{i}" for i in range(len(SQLSELECT_DUMPS))])
def test_sqlselect_dump_battery(spark, script, want):
    """task_test.go TestSqlSelect: dump(true) renders the reference's
    generated SQL text verbatim (fm_dbsrc.go:93-227 builder)."""
    out = run_script(spark, script)
    assert out == _norm_sql(want) + "\n\n"


def test_yield_array_envelope_columns(spark):
    """fm_script_test js-yieldArray-*: without a $.result the SOURCE's
    column list survives into the JSON envelope even when yielded rows
    are wider; $.result columns/types land verbatim (incl. 'bool');
    jslite supports the ... spread in calls and arrays."""
    import json as _json

    d = _json.loads(run_script(spark, """STRING('1,2,3,4,5', separator('\\n'))
SCRIPT("js", {
    $.yieldArray($.values[0].split(',').map( (v) => { return parseInt(v) }))
})
JSON()"""))
    assert d["data"]["columns"] == ["STRING"]
    assert d["data"]["types"] == ["string"]
    assert d["data"]["rows"] == [[1, 2, 3, 4, 5]]

    d = _json.loads(run_script(spark, """STRING('true,true,false,true,false', separator('\\n'))
SCRIPT("js", {
    $.yieldArray($.values[0].split(',').map(function(v){ return v === 'true'}))
})
JSON()"""))
    assert d["data"]["columns"] == ["STRING"]
    assert d["data"]["rows"] == [[True, True, False, True, False]]

    d = _json.loads(run_script(spark, """SCRIPT("js", {
    $.result = {
        columns: ["a", "b", "c", "d"],
        types: ["int64", "double", "string", "bool"]
    };
    var arr = [1, 2.3, '3.4', true];
    $.yield(...arr);
})
JSON()"""))
    assert d["data"]["columns"] == ["a", "b", "c", "d"]
    assert d["data"]["types"] == ["int64", "double", "string", "bool"]
    assert d["data"]["rows"] == [[1, 2.3, "3.4", True]]


def test_script_system_module_and_params(spark):
    """fm_script_test js-system-free-os-memory/gc/now, js-params,
    js-invalid-module: the @jsh/system module, single-valued $.params
    collapse, and the goja loader's Invalid-module error."""
    assert run_script(spark, """SCRIPT("js", {
    m = require("@jsh/system");
    m.free_os_memory();
    $.yield("ok");
})
CSV()""") == "ok\n\n"
    assert run_script(spark, """SCRIPT("js", {
    m = require("@jsh/system");
    m.gc();
    $.yield("ok");
})
CSV()""") == "ok\n\n"
    out = run_script(spark, """SCRIPT("js", {
    m = require("@jsh/system");
    let now = m.now();
    $.yield("ok", now.unix());
})
CSV()""")
    first = out.splitlines()[0].split(",")
    assert first[0] == "ok" and int(first[1]) > 1_500_000_000
    assert run_script(spark, """SCRIPT("js", {
    var1 = $.params.p1;
    var2 = $.params["p2"];
    $.yield(...var1, var2);
})
CSV()""", params={"p1": ["1", "2"], "p2": ["abc"]}) == "1,2,abc\n\n"
    with pytest.raises(Exception, match="Invalid module"):
        run_script(spark, """SCRIPT("js", {
    const y = require("invalid_module");
})
CSV()""")


def test_script_inflight_vars(spark):
    """TestScriptSystemInflight: $.inflight().set/get bridges the SET()/
    $name record-variable store, both directions."""
    assert run_script(spark, """
FAKE( linspace(1,2,1))
SCRIPT("js", {
    $.inflight().set("key1", 123);
    $.inflight().set("key2", "abc");
    $.yield("");
})
MAPVALUE(0, $key1)
MAPVALUE(1, $key2)
CSV()
""") == "123,abc\n\n"
    assert run_script(spark, """
FAKE( linspace(1,2,1))
SET(key1, 123)
SET(key2, "abc")
SCRIPT("js", {
    $.yield($.inflight().get("key1"), $.inflight().get("key2"));
})
CSV()
""") == "123,abc\n\n"


@needs_goldens
def test_script_mathx_fft_golden(spark):
    """fm_script_test TestScriptFFT js-fft VERBATIM: the mathx module's
    fft over accumulated arrays matches the fft2d.csv golden byte-exact
    (same formulas as nums/fft and operators/series.fft)."""
    out = run_script(spark, """
FAKE( oscillator( range(timeAdd(1685714509*1000000000,'1s'), '1s', '100us'), freq(10, 1.0), freq(50, 2.0)))
SCRIPT("js", {
    m = require("mathx");
    times = [];
    values = [];
}, {
    times.push($.values[0]);
    values.push($.values[1]);
}, {
    result = m.fft(times, values);
    for( i = 0; i < result.length; i++ ) {
        if (result[i][0] > 60)
            break
        $.yield(result[i][0], result[i][1])
    }
})
CSV(precision(6))
""")
    with open(os.path.join(GOLDEN_DIR, "fft2d.csv")) as f:
        assert out == f.read() + "\n"


def test_database_binary_tql_arc(spark):
    """tql_test.go TestDatabaseBinaryTql VERBATIM: DDL-created engine
    table -> INSERT with '0x..' binary coercion -> SELECTs in all four
    binaryformat() renderings -> APPEND -> DROP."""
    from neo_server_spark.sqlx import ddl
    if ddl.has_table("tqlbin"):
        ddl.drop_table(spark, "tqlbin")
    out = run_script(spark, """SCRIPT("js", {
    var ret = $.db().exec("create tag table tqlbin (name varchar(40) primary key, time datetime basetime, value binary)");
    if (ret instanceof Error) {
        $.yield(ret.message);
    } else {
        $.yield("create-tqlbin done");
    }
})
CSV()""")
    assert out == "create-tqlbin done\n\n"
    out = run_script(spark, """SCRIPT({
    $.yield('bin1', 1692686707380411000, '0x0102030405060708090a');
})
INSERT('name', 'time', 'value', table('tqlbin'))""")
    assert "1 row inserted." in out
    sel = "SQL(\"select NAME, VALUE from tqlbin where name = 'bin1'\")\n"
    assert run_script(spark, sel + "CSV(header(true))") == \
        "NAME,VALUE\nbin1,0x0102030405060708090a\n\n"
    assert run_script(spark, sel + "CSV(header(true), binaryformat('preview'))") == \
        "NAME,VALUE\nbin1,0x0102030405..\n\n"
    assert run_script(spark, sel + "CSV(header(true), binaryformat('base64'))") == \
        "NAME,VALUE\nbin1,AQIDBAUGBwgJCg==\n\n"
    assert run_script(spark, sel + "CSV(header(true), binaryformat('bytes'))") == \
        "NAME,VALUE\nbin1,[1 2 3 4 5 6 7 8 9 10]\n\n"
    out = run_script(spark, """SCRIPT({
    $.yield('bin2', 1692686707380411000, '0x0102030405060708090a');
    $.yield('bin2', 1692686707380412000, '0x02030405060708090a10');
    $.yield('bin2', 1692686707380413000, '0x030405060708090a1011');
    $.yield('bin2', 1692686707380414000, '0x0405060708090a101213');
    $.yield('bin2', 1692686707380415000, '0x05060708090a10121314');
})
APPEND(table('tqlbin'))""")
    assert "append 5 rows (success 5, fail 0)" in out
    out = run_script(spark, """SQL("select NAME, VALUE from tqlbin where name = 'bin2'")
CSV(header(true))""")
    assert out == ("NAME,VALUE\nbin2,0x0102030405060708090a\n"
                   "bin2,0x02030405060708090a10\n"
                   "bin2,0x030405060708090a1011\n"
                   "bin2,0x0405060708090a101213\n"
                   "bin2,0x05060708090a10121314\n\n")
    out = run_script(spark, """SCRIPT("js", {
    var ret = $.db().exec("drop table tqlbin");
    if (ret instanceof Error) {
        console.error(ret.message);
    }
})
DISCARD()""")
    assert out == ""
    assert not ddl.has_table("tqlbin")


def test_parse_error_absolute_location():
    """script_parser_test.go TestParseScriptErrorUsesAbsoluteLineNumber /
    TestParseErrorFormatsLocation / TestCompileLogsAbsoluteParseErrorLocations:
    a trailing literal after a statement reports the expression.ParseError
    rendering with the ABSOLUTE source line, 1-based column and near token."""
    import pytest as _pytest

    from neo_server_spark.tql.script import parse_script_ex
    with _pytest.raises(SyntaxError,
                        match=r'unexpected token \'3\' \(line=3, '
                              r'column=36, near="3"\)'):
        parse_script_ex(
            "FAKE( linspace(0, 360, 50))\n"
            "MAPVALUE(1, sin((value(0)/180)*PI))\n"
            "MAPVALUE(2, cos((value(0)/180)*PI))3\n"
            "CHART()")
    with _pytest.raises(SyntaxError, match=r"line=2, column=36"):
        parse_script_ex(
            "FAKE( linspace(0, 360, 50))\n"
            "MAPVALUE(1, sin((value(0)/180)*PI))2\n"
            "CHART()")


def test_chart_compat_mark_options(spark):
    """fm_encoder.go fmMarkArea / chartcompat SetMarkLine*AxisCoord: the
    CHART_LINE statement takes markArea/markXAxis/markYAxis options and
    injects the echarts markArea/markLine entries."""
    import json as _json
    out = run_script(spark, """
FAKE( linspace(1, 4, 4) )
PUSHVALUE(0, value(0)*2)
CHART_LINE(markArea(1, 2, "zone", "red", 0.25), markXAxis(3, "X3"), markYAxis(4.5, "Y"))
""")
    spec = _json.loads(out)
    s0 = spec["series"][0]
    assert s0["markArea"]["data"][0][0] == {"name": "zone", "xAxis": 1}
    assert s0["markArea"]["data"][0][1] == {"xAxis": 2}
    names = [d["name"] for d in s0["markLine"]["data"]]
    assert names == ["X3", "Y"]
    # wrong arity = the reference's exact error
    import pytest as _pytest
    with _pytest.raises(ValueError,
                        match=r"f\(markArea\) invalid number of args; "
                              r"expect:2, actual:1"):
        run_script(spark, """
FAKE( linspace(1, 4, 4) )
CHART_LINE(markArea(1))
""")


def test_csv_source_logprogress_accepted(spark):
    """fm_csv.go fmLogProgress: the source option parses and the pipeline
    is unaffected (progress logging is engine-side observability)."""
    out = run_script(spark, "FAKE( csv(`a,1\nb,2`))\nCSV(logProgress(2))\n")
    assert out == "a,1\nb,2\n\n"
