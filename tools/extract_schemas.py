"""One-off: extract (column, dtype) tables from the reference's
get_dtypes dict literals (src/AzureDataLakeAccess.py:806-1719) into a
JSON resource. Schema facts are the DATA MODEL (SURVEY.md §1.2-1.3) —
stored as data, loaded by schemas.py, never as code.

Usage: python tools/extract_schemas.py <reference>/src/AzureDataLakeAccess.py
Writes cafmeteorologyectower_azuredatalakeprocessingscripts_spark/schemas_data.json."""
import ast, json, os, sys

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cafmeteorologyectower_azuredatalakeprocessingscripts_spark",
    "schemas_data.json",
)

def type_tag(node):
    # float -> f8, 'Int64' -> i8, str -> str
    if isinstance(node, ast.Name):
        return {"float": "f8", "str": "str", "object": "str", "bool": "bool"}[node.id]
    if isinstance(node, ast.Constant):
        return {"Int64": "i8", "int64": "i8", "float64": "f8", "string": "str", "object": "str"}[node.value]
    raise ValueError(ast.dump(node))

def extract(src_path):
    tree = ast.parse(open(src_path).read())
    out = {}
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name == "get_dtypes":
            # walk If-chain in order
            def visit(body):
                for st in body:
                    if isinstance(st, ast.If):
                        test = st.test
                        name = None
                        if isinstance(test, ast.Compare) and isinstance(test.comparators[0], ast.Constant):
                            name = test.comparators[0].value
                        cols = []
                        for sub in ast.walk(st):
                            if isinstance(sub, ast.Assign) and isinstance(sub.value, ast.Dict):
                                d = sub.value
                                cols = []
                                for k, v in zip(d.keys, d.values):
                                    cols.append([k.value, type_tag(v)])
                                break
                        if name and cols:
                            out[name] = cols
                        visit(st.body)
                        visit(st.orelse)
            visit(fn.body)
    return out

def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    out = extract(sys.argv[1])
    print(json.dumps({k: len(v) for k, v in out.items()}, indent=0))
    json.dump(out, open(OUT, "w"), indent=0)

if __name__ == "__main__":
    main()
