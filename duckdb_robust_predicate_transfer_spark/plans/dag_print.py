"""ASCII transfer-DAG rendering.

The analogue of the reference's utils/dag_printer.cpp (boxes with
table name + formatted cardinality, edge labels parent_col/child_col,
gated by rpt_display_dag). The per-op summary of rpt_profiling is
TransferResult.format_profile(df) (operators/rewrite.py), read from the
executed plan once the statement's DataFrame ``df`` has run.
"""

from __future__ import annotations


def fmt_card(n: float) -> str:
    if n >= 1e9:
        return f"{n / 1e9:.1f}B"
    if n >= 1e6:
        return f"{n / 1e6:.1f}M"
    if n >= 1e3:
        return f"{n / 1e3:.1f}K"
    return str(int(n))


def render_tree(tree, rows_est: dict) -> str:
    """Indented tree with per-node cardinality and edge key labels."""
    children: dict = {}
    for child, (par, e) in tree.parent.items():
        children.setdefault(par, []).append((child, e))

    lines: list = []

    def walk(node, depth, edge):
        card = fmt_card(rows_est.get(node, 0))
        label = ""
        if edge is not None:
            pc = ",".join(edge.cols_of(edge.other(node)))
            cc = ",".join(edge.cols_of(node))
            label = f"  [{pc} = {cc}]"
        lines.append(f"{'    ' * depth}+- {node} ({card}){label}")
        for ch, e in sorted(children.get(node, []),
                            key=lambda t: rows_est.get(t[0], 0)):
            walk(ch, depth + 1, e)

    walk(tree.root, 0, None)
    return "\n".join(lines)


def _make_box(name_line: str, card_line: str) -> tuple:
    """([lines], center_col) — a bordered two-line box like the
    reference's MakeBox (dag_printer.cpp:24-36)."""
    w = max(len(name_line), len(card_line))
    lines = [
        "+" + "-" * (w + 2) + "+",
        "| " + name_line.ljust(w) + " |",
        "| " + card_line.ljust(w) + " |",
        "+" + "-" * (w + 2) + "+",
    ]
    return lines, (w + 4) // 2


def render_boxes(tree, rows_est: dict) -> str:
    """2-D box rendering of the transfer DAG: parent box centered over
    side-by-side child subtrees, connectors labeled parent_col /
    child_col — the analogue of the reference's RenderSubtree /
    PrintPhysicalDAG output (dag_printer.cpp:38-180), used for
    ``display_physical_dag`` parity."""
    children: dict = {}
    for child, (par, e) in tree.parent.items():
        children.setdefault(par, []).append((child, e))

    def subtree(node) -> tuple:
        card = fmt_card(rows_est.get(node, 0)) + " rows"
        box, box_center = _make_box(str(node), card)
        kids = sorted(children.get(node, []),
                      key=lambda t: rows_est.get(t[0], 0))
        if not kids:
            return box, box_center

        blocks, labels, centers, offsets = [], [], [], []
        gap, x = 4, 0
        for ch, e in kids:
            blines, bcenter = subtree(ch)
            pc = ",".join(e.cols_of(node))
            cc = ",".join(e.cols_of(ch))
            blocks.append(blines)
            labels.append(f"{pc} / {cc}")
            offsets.append(x)
            centers.append(x + bcenter)
            x += max(len(ln) for ln in blines) + gap
        total = x - gap

        mid = (centers[0] + centers[-1]) // 2
        shift = max(0, mid - box_center)
        out = [" " * shift + ln for ln in box]
        # connector row: | under the parent, labels over each child
        conn = [" "] * max(total, shift + len(box[0]))
        for c in centers:
            conn[c] = "|"
        out.append("".join(conn).rstrip())
        lab_row = [" "] * total
        for c, lab in zip(centers, labels):
            start = max(0, min(c - len(lab) // 2, total - len(lab)))
            lab_row[start:start + len(lab)] = lab
        out.append("".join(lab_row).rstrip())

        height = max(len(b) for b in blocks)
        for row in range(height):
            merged = ""
            for blines, off in zip(blocks, offsets):
                seg = blines[row] if row < len(blines) else ""
                merged = merged.ljust(off) + seg
            out.append(merged.rstrip())
        new_center = shift + box_center
        return out, new_center

    lines, _ = subtree(tree.root)
    return "\n".join(lines)

