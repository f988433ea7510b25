"""Per-shape compile probe behind plans/r24: writes a jshell script that
runs the first N point-lookup queries of each perfbench shape through one
Engine and prints, per query, `<shape> <Compiler.compile ms> <rows>
<plans equal>`. With mode `new` it also compiles each query directly
(`Prepared.unwrap`) and compares the two optimized plans modulo expression
ids; mode `parent` is for a checkout without prepared shapes.

    python3 -c "import sys; sys.path.insert(0, 'perfbench'); import gen; gen.main('point_lookup', 1, '/tmp/probe')"
    python3 plans/r24/probe.py new 8
    jshell --class-path "$(cat .bench_build/perfbench/classpath.txt)" \
        $(python3 -c "import sys; sys.path.insert(0, 'perfbench'); import run; print(' '.join(f'-R--add-opens={p}=ALL-UNNAMED' for p in run.ADD_OPENS))") \
        -R-Xmx2g /tmp/probe/r24_new.jsh | grep '^R24'
"""
import json, sys
sys.path.insert(0, 'perfbench'); import run
mode, n = sys.argv[1], int(sys.argv[2])
ops = json.load(open('/tmp/probe/spec.json'))['ops']
picked = [o for k in ['star', 'chain3', 'chain2_filter', 'optional', 'topk', 'ask']
          for o in [o for o in ops if o['kind'] == k][:n]]
qs = ',\n'.join('{%s, %s}' % (json.dumps(o['kind']), json.dumps(o['text'])) for o in picked)
parity = '''
  var direct = engine.compiler().compile(root(graft.algebra.Prepared.unwrap(op0), ask)).df();
  boolean same = df.queryExecution().optimizedPlan().canonicalized().equals(direct.queryExecution().optimizedPlan().canonicalized());
''' if mode == 'new' else 'boolean same = true;\n'
open(f'/tmp/probe/r24_{mode}.jsh', 'w').write('''
var spark = org.apache.spark.sql.SparkSession.builder().master("local[4]").config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false").getOrCreate();
spark.sparkContext().setLogLevel("ERROR");
var engine = new graft.Engine(graft.sources.GraphCatalog.testdata(spark, "/tmp/probe/data"), scala.Option.empty());
graft.algebra.Op root(graft.algebra.Op o, boolean ask) { return ask ? new graft.algebra.Slice(0L, (scala.Option) scala.Option.apply(1L), o) : o; }
String[][] qs = {%s};
for (var q : qs) {
  var form = graft.parser.SparqlParser.parse(q[1]);
  boolean ask = form instanceof graft.parser.SparqlParser.AskQ;
  graft.algebra.Op op0 = ask ? ((graft.parser.SparqlParser.AskQ) form).op() : ((graft.parser.SparqlParser.SelectQ) form).op();
  long t0 = System.nanoTime();
  var df = engine.compiler().compile(root(op0, ask)).df();
  double ms = (System.nanoTime() - t0) / 1e6;
  %s
  System.out.printf("R24 %%s %%.2f %%d %%s%%n", q[0], ms, df.count(), same);
}
/exit
''' % (qs, parity))
