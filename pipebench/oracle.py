"""DuckDB reference for the dag_build workload.

`reference()` runs the reference project's four model files
(acryldata/dbt-demo models/) over the generated seed CSVs and keeps the
two marts.  The SQL is verbatim except for the rendered Jinja:
`ref('x')` becomes `main.x`, as dbt-duckdb renders it, and the
project's `date_trunc` macro becomes the function call.  `check()`
compares a build's materialized marts with them.
"""
import os

import duckdb

STG_LOANS = """
with source as (
    select * from main.raw_loans
),

renamed as (
    select
        loan_id,
        customer_id,
        loan_type_id,
        loan_amount,
        interest_rate,
        cast(loan_start_date as date) as loan_start_date,
        loan_term_months,
        property_address,
        property_value
    from source
)

select * from renamed
"""

STG_LOAN_PAYMENTS = """
with source as (
    select * from main.raw_loan_payments
),

renamed as (
    select
        payment_id,
        loan_id,
        cast(payment_date as date) as payment_date,
        payment_amount,
        principal_paid,
        interest_paid,
        payment_status
    from source
)

select * from renamed
"""

FCT_LOAN_DETAILS = """
with loans as (
    select * from main.stg_loans
),

loan_types as (
    select * from main.loan_types
),

loan_details as (
    select
        loans.loan_id,
        loans.customer_id,
        loans.loan_type_id,
        loan_types.loan_type_name,
        loan_types.description as loan_type_description,
        loans.loan_amount,
        loans.interest_rate,
        loans.loan_start_date,
        loans.loan_term_months,
        loan_types.typical_term_months,
        loans.property_address,
        loans.property_value,
        case
            when loans.property_value > 0
            then round((cast(loans.loan_amount as numeric) / cast(loans.property_value as numeric)) * 100, 2)
            else null
        end as ltv_ratio,
        round(
            loans.loan_amount * (loans.interest_rate / 100 / 12) *
            power(1 + (loans.interest_rate / 100 / 12), loans.loan_term_months) /
            (power(1 + (loans.interest_rate / 100 / 12), loans.loan_term_months) - 1),
            2
        ) as estimated_monthly_payment
    from loans
    left join loan_types
        on loans.loan_type_id = loan_types.loan_type_id
)

select * from loan_details
"""

AGG_MONTHLY_LOANS = """
with loans as (
    select * from main.fct_loan_details
),

payments as (
    select * from main.stg_loan_payments
),

monthly_originations as (
    select
        cast(date_trunc('month', loan_start_date) as date) as month_start,
        loan_type_name,
        count(distinct loan_id) as loans_originated,
        sum(loan_amount) as total_amount_originated,
        avg(loan_amount) as avg_loan_amount,
        avg(interest_rate) as avg_interest_rate
    from loans
    group by 1, 2
),

monthly_payments as (
    select
        cast(date_trunc('month', payment_date) as date) as month_start,
        count(distinct payment_id) as total_payments,
        sum(payment_amount) as total_payment_amount,
        sum(principal_paid) as total_principal_paid,
        sum(interest_paid) as total_interest_paid
    from payments
    group by 1
),

combined as (
    select
        coalesce(orig.month_start, pay.month_start) as month,
        orig.loan_type_name,
        loans.customer_id,
        coalesce(orig.loans_originated, 0) as new_loans,
        coalesce(orig.total_amount_originated, 0) as amount_originated,
        coalesce(orig.avg_loan_amount, 0) as avg_loan_size,
        coalesce(orig.avg_interest_rate, 0) as avg_rate,
        coalesce(pay.total_payments, 0) as payments_received,
        coalesce(pay.total_payment_amount, 0) as payment_volume,
        coalesce(pay.total_principal_paid, 0) as principal_collected,
        coalesce(pay.total_interest_paid, 0) as interest_collected
    from monthly_originations orig
    full outer join monthly_payments pay
        on orig.month_start = pay.month_start
    left join loans
        on orig.loan_type_name = loans.loan_type_name
)

select * from combined
order by month desc, loan_type_name
"""

# Tables.rawLoansSchema / rawLoanPaymentsSchema / loanTypesSchema.
SCHEMAS = {
    "raw_loans": {
        "loan_id": "VARCHAR", "customer_id": "VARCHAR",
        "loan_type_id": "INTEGER", "loan_amount": "BIGINT",
        "interest_rate": "DOUBLE", "loan_start_date": "VARCHAR",
        "loan_term_months": "INTEGER", "property_address": "VARCHAR",
        "property_value": "BIGINT"},
    "raw_loan_payments": {
        "payment_id": "VARCHAR", "loan_id": "VARCHAR",
        "payment_date": "VARCHAR", "payment_amount": "DOUBLE",
        "principal_paid": "DOUBLE", "interest_paid": "DOUBLE",
        "payment_status": "VARCHAR"},
    "loan_types": {
        "loan_type_id": "INTEGER", "loan_type_name": "VARCHAR",
        "description": "VARCHAR", "typical_term_months": "INTEGER",
        "min_amount": "INTEGER", "max_amount": "INTEGER"},
}

# agg_monthly_loans rows pair up in sorted order.  Sums of 2-decimal
# amounts are whole cents, so they compare rounded to 2 decimals.  An
# average can sit exactly half-way at any decimal (949.38 / 192 =
# 4.9446875), where summation order flips a rounded digit, so averages
# compare within a relative 1e-9 instead.
AGG_EXACT = ["month", "loan_type_name", "customer_id", "new_loans::BIGINT",
             "amount_originated::BIGINT", "payments_received::BIGINT",
             "round(payment_volume::DOUBLE, 2)", "round(principal_collected::DOUBLE, 2)",
             "round(interest_collected::DOUBLE, 2)"]
AGG_AVERAGES = ["avg_loan_size::DOUBLE", "avg_rate::DOUBLE"]
AGG_ROWS = """
select {cols}, row_number() over (order by {order}) as rn from {rel}
"""

FCT_STRINGS = ["customer_id", "loan_type_name", "loan_type_description",
               "loan_start_date", "property_address"]
FCT_EXACT = ["loan_type_id", "loan_amount", "interest_rate",
             "loan_term_months", "typical_term_months", "property_value"]
# Engine-rounded to 2 decimals: DuckDB divides DECIMAL(18,3) in double
# and Spark in DECIMAL(10,0) arithmetic, so a half-way case may round
# one cent apart.
FCT_CENTS = ["ltv_ratio", "estimated_monthly_payment"]


def reference(seeds_dir):
    """Write ref_fct.parquet and ref_agg.parquet next to the seeds."""
    con = duckdb.connect()
    for name, cols in SCHEMAS.items():
        path = os.path.join(seeds_dir, f"{name}.csv")
        con.execute(f"create table {name} as select * from read_csv(?, "
                    f"header=true, quote='\"', columns={cols!r})", [path])
    for name, sql in [("stg_loans", STG_LOANS),
                      ("stg_loan_payments", STG_LOAN_PAYMENTS),
                      ("fct_loan_details", FCT_LOAN_DETAILS),
                      ("agg_monthly_loans", AGG_MONTHLY_LOANS)]:
        con.execute(f"create table {name} as {sql}")
    for name, out in [("fct_loan_details", "ref_fct.parquet"),
                      ("agg_monthly_loans", "ref_agg.parquet")]:
        con.execute(f"copy {name} to '{os.path.join(seeds_dir, out)}' (format parquet)")
    con.close()


def check(seeds_dir, warehouse):
    """Mismatch descriptions for one build's marts (empty when equal)."""
    con = duckdb.connect()
    problems = []
    con.execute(f"create view s_fct as select * from read_parquet('{warehouse}/fct_loan_details/*.parquet')")
    con.execute(f"create view r_fct as select * from read_parquet('{seeds_dir}/ref_fct.parquet')")
    n_s, n_r = (con.execute(f"select count(*) from {t}").fetchone()[0]
                for t in ("s_fct", "r_fct"))
    if n_s != n_r:
        problems.append(f"fct_loan_details: {n_s} rows, reference {n_r}")
    conds = [f"s.{c}::VARCHAR is not distinct from r.{c}::VARCHAR" for c in FCT_STRINGS]
    conds += [f"s.{c} is not distinct from r.{c}" for c in FCT_EXACT]
    conds += [f"((s.{c} is null and r.{c} is null) or "
              f"abs(s.{c}::DOUBLE - r.{c}::DOUBLE) <= 0.0100001)" for c in FCT_CENTS]
    bad, matched = con.execute(
        "select count(*) filter (where not (" + " and ".join(conds) + ")), count(*) "
        "from s_fct s join r_fct r using (loan_id)").fetchone()
    if bad or matched != n_r:
        problems.append(f"fct_loan_details: {bad} differing rows, {matched}/{n_r} keys matched")
    cols = AGG_EXACT + AGG_AVERAGES
    names = [f"c{i}" for i in range(len(cols))]
    rows = lambda rel: AGG_ROWS.format(
        cols=", ".join(f"{c} as {n}" for c, n in zip(cols, names)),
        order=", ".join(names), rel=f"read_parquet('{rel}')")
    conds = [f"s.{n} is not distinct from r.{n}" for n in names[:len(AGG_EXACT)]]
    conds += [f"abs(s.{n} - r.{n}) <= 1e-9 * greatest(1, abs(r.{n}))"
              for n in names[len(AGG_EXACT):]]
    bad, n_s, n_r = con.execute(
        "select count(*) filter (where s.rn is null or r.rn is null or not ("
        + " and ".join(conds) + ")), count(s.rn), count(r.rn) "
        f"from ({rows(warehouse + '/agg_monthly_loans/*.parquet')}) s "
        f"full join ({rows(seeds_dir + '/ref_agg.parquet')}) r using (rn)").fetchone()
    if bad:
        problems.append(f"agg_monthly_loans: {bad} rows differ ({n_s} rows, reference {n_r})")
    con.close()
    return problems
