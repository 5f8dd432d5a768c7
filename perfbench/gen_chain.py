"""Seeded synthetic chain in the Schemas.chainLog NDJSON shape.

Each block carries 0-20 logs (mean 10). About 8% of logs are marketplace
listing events and 4% are dshop catalog events with 1-5 products; one in
six of those contract events carries a REQUIRED violation (2% of all
logs). Another 2% are marketplace-address logs with a topic the ETL
filters out; the rest are foreign-contract noise.

Writes <out>/blocks.ndjson, <out>/head.json (the whole chain) and
<out>/tally.tsv: one "block marketplace_valid marketplace_rejected
dshop_valid dshop_rejected marketplace_price_sum_x2" line per block with
contract events, so a checker can derive the exact expected sink
contents of any landed block range.

Usage: python3 gen_chain.py <out_dir> <n_blocks> <seed>
"""
import json
import os
import random
import sys

EPOCH = 10014455                     # EtlJob.Config.startBlockEpoch
MARKET_ADDR = "0x_origin_marketplace"
LISTING = "ListingCreated"
DSHOP = "DshopProductsUpdated"


def _esc(s):
    return s.replace("\\", "\\\\").replace('"', '\\"')


def _line(block, idx, addr, topic, payload):
    p = "null" if payload is None else '"' + _esc(payload) + '"'
    return (f'{{"block_number": {block}, "log_index": {idx}, "address": "{addr}", '
            f'"topic0": "{topic}", "payload": {p}}}\n')


def _listing(block, idx, price_x2, bad):
    lid = "null" if bad else f'"listing-{block}-{idx}"'
    return (f'{{"listing_id": {lid}, "ipfs_hash": "Qm{block}x{idx}", '
            f'"listing_type": "unit", "category": "cat{block % 7}", '
            f'"subcategory": null, "language": "en", "title": "item {block}-{idx}", '
            f'"description": "desc {idx}", "price": {price_x2 / 2}, "currency": "ETH"}}')


def _catalog(block, idx, n_products, bad_product):
    prods = []
    for p in range(n_products):
        title = "null" if p == bad_product else f'"prod {p}"'
        prods.append(
            f'{{"product_id": "p{block}-{idx}-{p}", "external_id": "x{p}", '
            f'"parent_external_id": null, "title": {title}, "description": "pd {p}", '
            f'"price": {100 + p}, "currency": "USD", "option1": "s", '
            f'"option2": null, "option3": null, "image": "img{p}"}}')
    return (f'{{"listing_id": "dshop-{block}-{idx}", "ipfs_path": "/dshop/{block}/{idx}", '
            f'"products": [{",".join(prods)}]}}')


def generate(out, n_blocks, seed):
    os.makedirs(out, exist_ok=True)
    rng = random.Random(seed)
    tally = []
    with open(os.path.join(out, "blocks.ndjson"), "w") as f:
        for block in range(EPOCH, EPOCH + n_blocks):
            mv = mr = dv = dr = price = 0
            for idx in range(rng.randint(0, 20)):
                u = rng.random()
                bad = rng.random() < 1 / 6
                if u < 0.08:
                    price_x2 = 2 * rng.randint(1, 500) + 1
                    f.write(_line(block, idx, MARKET_ADDR, LISTING,
                                  _listing(block, idx, price_x2, bad)))
                    if bad:
                        mr += 1
                    else:
                        mv += 1
                        price += price_x2
                elif u < 0.12:
                    n = rng.randint(1, 5)
                    bad_product = rng.randrange(n) if bad else -1
                    f.write(_line(block, idx, MARKET_ADDR, DSHOP,
                                  _catalog(block, idx, n, bad_product)))
                    dr += int(bad)
                    dv += n - int(bad)
                elif u < 0.14:
                    f.write(_line(block, idx, MARKET_ADDR, "OfferCreated", '{"offer": 1}'))
                else:
                    f.write(_line(block, idx, "0x_other", "Transfer", None))
            if mv or mr or dv or dr:
                tally.append(f"{block} {mv} {mr} {dv} {dr} {price}\n")
    with open(os.path.join(out, "head.json"), "w") as f:
        f.write(json.dumps({"latest_block": EPOCH + n_blocks - 1}))
    with open(os.path.join(out, "tally.tsv"), "w") as f:
        f.writelines(tally)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
